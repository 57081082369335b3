"""Round-5 curation-operator tests: LM cross-entropy scoring, DSIR
importance weights, duplicate-span mining, mixture planning, kNN graph."""

import math

import pytest

import numpy as np
from pyspark.sql import functions as F

from .conftest import SF_DIR


def _mkdocs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_lm_cross_entropy_matches_hand_computation(spark):
    from helix_db_spark.operators.textstats import lm_cross_entropy

    # corpus: 6x "a", 2x "b" -> P(a)=0.75, P(b)=0.25
    df = _mkdocs(spark, [(1, "a a a b"), (2, "a a a b")])
    out = {r["doc_id"]: r for r in
           lm_cross_entropy(df, "doc_id", "text").collect()}
    expect = round(-(3 * math.log(0.75) + math.log(0.25)) / 4, 6)
    for i in (1, 2):
        assert out[i]["n_tokens"] == 4
        assert out[i]["cross_entropy"] == expect
        assert out[i]["ppl"] == round(math.exp(expect), 4)


def test_lm_cross_entropy_orders_common_vs_rare(spark):
    from helix_db_spark.operators.textstats import lm_cross_entropy

    # doc 1 repeats the dominant token; doc 2 is all hapaxes
    df = _mkdocs(spark, [(1, "the the the the the"),
                         (2, "qq ww ee rr tt"),
                         (3, "the the the qq ww")])
    out = {r["doc_id"]: r["cross_entropy"] for r in
           lm_cross_entropy(df, "doc_id", "text").collect()}
    assert out[1] < out[3] < out[2]


def test_dsir_weights_prefer_target_like_docs(spark):
    from helix_db_spark.operators.textstats import dsir_weights

    # target slice speaks 'xx yy'; raw background speaks 'aa bb'
    rows = [(i, "xx yy xx yy xx yy", 1) for i in range(10)]
    rows += [(i + 10, "aa bb aa bb aa bb", 0) for i in range(10)]
    rows += [(100, "xx yy xx yy xx yy", 0),   # target-like but unflagged
             (101, "aa bb aa bb aa bb", 0)]
    df = spark.createDataFrame(rows, "doc_id long, text string, is_t int")
    out = {r["doc_id"]: r["log_weight"] for r in
           dsir_weights(df, "doc_id", "text",
                        target_pred=F.col("is_t") == 1,
                        n_buckets=64).collect()}
    # the unflagged target-like doc outranks the background doc
    assert out[100] > out[101]
    assert out[100] > 0 > out[101]
    # weights are a deterministic function of text: identical docs tie
    assert out[100] == out[0]


def test_dsir_bucket_model_is_bounded(spark):
    from helix_db_spark.operators.textstats import dsir_weights

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = dsir_weights(docs, "doc_id", "text",
                       target_pred=F.col("lang") == "en", n_buckets=32)
    rows = out.collect()
    assert len(rows) == docs.count()
    # n_feats = unigrams + bigrams = (2*tokens - 1) for docs with >= 2 tokens
    one = docs.filter(F.col("doc_id") == rows[0]["doc_id"]).first()
    from helix_db_spark.functions.text import tokens  # noqa: F401
    ntok = docs.filter(F.col("doc_id") == rows[0]["doc_id"]) \
               .select(F.size(tokens(F.col("text"))).alias("n")).first()["n"]
    got = {r["doc_id"]: r["n_feats"] for r in rows}[one["doc_id"]]
    assert got == 2 * ntok - 1


def test_duplicate_spans_exact_counts(spark):
    from helix_db_spark.operators.dedup import duplicate_spans

    shared = "one two three four five six"          # exactly 6 tokens
    df = _mkdocs(spark, [
        (1, shared + " tail1 tail2"),               # 8 tokens -> 3 spans
        (2, "lead " + shared),                      # 7 tokens -> 2 spans
        (3, "totally different words here indeed again and again"),
    ])
    out = {r["doc_id"]: r for r in
           duplicate_spans(df, "doc_id", "text", n=6).collect()}
    # only the shared 6-token run occurs in two docs
    assert out[1]["n_spans"] == 3 and out[1]["dup_spans"] == 1
    assert out[2]["n_spans"] == 2 and out[2]["dup_spans"] == 1
    assert out[3]["dup_spans"] == 0
    assert out[2]["dup_fraction"] == 0.5
    # short docs (< n tokens) simply don't appear
    short = _mkdocs(spark, [(9, "too short")])
    assert duplicate_spans(short, "doc_id", "text", n=6).count() == 0


def test_mixture_plan_uniform_binding_group(spark):
    from helix_db_spark.operators.sampling import mixture_plan

    rows = ([(i, "a") for i in range(60)] + [(i + 100, "b") for i in range(30)]
            + [(i + 200, "c") for i in range(10)])
    df = spark.createDataFrame(rows, "id long, src string")
    out = {r["src"]: r for r in mixture_plan(df, "src").collect()}
    # smallest source binds: frac 1.0, everyone keeps min-group units
    assert out["c"]["sample_frac"] == 1.0
    assert out["a"]["keep_units"] == out["b"]["keep_units"] == \
        out["c"]["keep_units"] == 10.0
    assert out["a"]["sample_frac"] == round(10 / 60, 6)
    assert out["a"]["share"] == 0.6
    assert out["a"]["target_share"] == round(1 / 3, 6)


def test_mixture_plan_explicit_target_drops_unlisted(spark):
    from helix_db_spark.operators.sampling import mixture_plan

    rows = ([(i, "a", 10) for i in range(4)] + [(i + 10, "b", 10)
                                                for i in range(4)]
            + [(i + 20, "junk", 10) for i in range(4)])
    df = spark.createDataFrame(rows, "id long, src string, w int")
    out = {r["src"]: r for r in
           mixture_plan(df, "src", size_col="w",
                        target={"a": 0.75, "b": 0.25}).collect()}
    assert out["junk"]["sample_frac"] == 0.0 and \
        out["junk"]["keep_units"] == 0.0
    # a binds (40/0.75 < 40/0.25): keeps all of a, a third of b
    assert out["a"]["sample_frac"] == 1.0
    assert out["b"]["sample_frac"] == round((40 / 0.75) * 0.25 / 40, 6)


def _clustered_vecs(n_clusters=8, per=12, dim=16, seed=7):
    rng = np.random.RandomState(seed)
    centers = rng.standard_normal((n_clusters, dim)) * 3
    rows = []
    for c in range(n_clusters):
        for j in range(per):
            v = centers[c] + rng.standard_normal(dim) * 0.05
            rows.append((c * per + j, [float(x) for x in v]))
    return rows


def test_knn_graph_exact_matches_numpy(spark):
    from helix_db_spark.operators.similarity import knn_graph

    rows = _clustered_vecs(n_clusters=3, per=5)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = knn_graph(df, "vec_id", "embedding", k=4)
    got = {}
    for r in out.collect():
        got.setdefault(r["src"], []).append((r["rank"], r["dst"]))
    mat = np.array([v for _, v in rows])
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = mat @ mat.T
    for i, (vid, _) in enumerate(rows):
        order = sorted(
            ((round(float(sims[i, j]), 6), rows[j][0])
             for j in range(len(rows)) if j != i),
            key=lambda t: (-t[0], t[1]))[:4]
        expect = [d for _, d in order]
        assert [d for _, d in sorted(got[vid])] == expect, vid


def test_knn_graph_celled_recall_on_clusters(spark):
    from helix_db_spark.operators.similarity import knn_graph

    rows = _clustered_vecs()
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    exact = knn_graph(df, "vec_id", "embedding", k=3)
    appx = knn_graph(df, "vec_id", "embedding", k=3, max_cells=16)
    e = {(r["src"], r["dst"]) for r in exact.collect()}
    a = {(r["src"], r["dst"]) for r in appx.collect()}
    # tight clusters: within-cell search recovers nearly all true neighbors
    assert len(a & e) / len(e) >= 0.85
    # the celled variant never exceeds k per src and never self-links
    per_src = {}
    for s, d in a:
        assert s != d
        per_src[s] = per_src.get(s, 0) + 1
    assert max(per_src.values()) <= 3


def test_knn_graph_nprobe_improves_recall(spark):
    from helix_db_spark.operators.similarity import knn_graph

    # looser clusters so single-cell search visibly misses neighbors
    rng = np.random.RandomState(11)
    rows = [(i, [float(x) for x in rng.standard_normal(16)])
            for i in range(120)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    exact = {(r["src"], r["dst"])
             for r in knn_graph(df, "vec_id", "embedding", k=3).collect()}

    def recall(nprobe):
        a = {(r["src"], r["dst"]) for r in
             knn_graph(df, "vec_id", "embedding", k=3, max_cells=12,
                       nprobe=nprobe).collect()}
        return len(a & exact) / len(exact)

    r1, r3 = recall(1), recall(3)
    assert r3 >= r1
    assert r3 >= 0.5  # isotropic data, 3/12 cells probed


def test_cluster_topics_surfaces_distinctive_terms(spark):
    from helix_db_spark.operators.pipeline import cluster_topics

    # two vocabularies -> clusters whose lift terms identify them
    rows = [(i, "alpha beta alpha beta alpha beta gamma " * 3)
            for i in range(20)]
    rows += [(i + 100, "delta epsilon delta epsilon delta zeta " * 3)
             for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = cluster_topics(df, "doc_id", "text", dim=16, k_terms=2,
                         min_count=5).collect()
    assert out, "must produce topic rows"
    by_cell = {}
    for r in out:
        assert r["term_rank"] <= 2 and r["lift"] > 0
        by_cell.setdefault(r["cell"], []).append(r["term"])
    # every emitted term belongs to exactly one vocabulary, and no
    # cluster mixes the two vocabularies in its top terms
    va = {"alpha", "beta", "gamma"}
    vb = {"delta", "epsilon", "zeta"}
    for terms in by_cell.values():
        assert set(terms) <= va or set(terms) <= vb, terms


def test_domain_stats_extraction_and_blocklist(spark):
    from helix_db_spark.operators.textstats import domain_stats

    df = _mkdocs(spark, [
        (1, "intro https://a.com/x words http://b.org more https://a.com/y"),
        (2, "only http://b.org/path here"),
        (3, "no links at all"),
    ])
    out = {r["domain"]: r for r in
           domain_stats(df, "doc_id", "text",
                        blocklist=("b.org",)).collect()}
    assert out["a.com"]["n_urls"] == 2 and out["a.com"]["n_docs"] == 1
    assert out["b.org"]["n_urls"] == 2 and out["b.org"]["n_docs"] == 2
    assert out["b.org"]["blocked"] and not out["a.com"]["blocked"]
    assert set(out) == {"a.com", "b.org"}


def test_mixture_plan_zero_unit_groups_degrade(spark):
    """Zero-size groups / all-zero / empty frames produce degenerate
    plan rows (0 share, 0 frac) instead of an ANSI DIVIDE_BY_ZERO."""
    from helix_db_spark.operators.sampling import mixture_plan

    rows = [(1, "a", 10), (2, "a", 10), (3, "z", 0), (4, "z", 0)]
    df = spark.createDataFrame(rows, "id long, src string, w int")
    out = {r["src"]: r for r in
           mixture_plan(df, "src", size_col="w").collect()}
    assert out["z"]["n_units"] == 0
    assert out["z"]["sample_frac"] == 0.0
    allz = mixture_plan(
        spark.createDataFrame([(1, "a", 0)],
                              "id long, src string, w int"),
        "src", size_col="w").collect()
    assert allz[0]["share"] == 0.0 and allz[0]["sample_frac"] == 0.0
    empty = spark.createDataFrame([], "id long, src string, w int")
    assert mixture_plan(empty, "src", size_col="w").count() == 0


def test_mixture_plan_temperature(spark):
    """Temperature targets: T=1 reproduces natural shares, large T tends
    to uniform, T<1 sharpens toward the big sources; exclusive with an
    explicit target map."""
    import math

    import pytest as _pytest

    from helix_db_spark.operators.sampling import mixture_plan

    rows = ([(i, "big") for i in range(90)]
            + [(i + 100, "small") for i in range(10)])
    df = spark.createDataFrame(rows, "id long, src string")
    t1 = {r["src"]: r for r in
          mixture_plan(df, "src", temperature=1.0).collect()}
    assert t1["big"]["target_share"] == t1["big"]["share"] == 0.9
    assert t1["big"]["sample_frac"] == 1.0  # natural mix = no downsampling
    t2 = {r["src"]: r for r in
          mixture_plan(df, "src", temperature=2.0).collect()}
    want_big = math.sqrt(0.9) / (math.sqrt(0.9) + math.sqrt(0.1))
    assert abs(t2["big"]["target_share"] - want_big) < 1e-6
    thuge = {r["src"]: r for r in
             mixture_plan(df, "src", temperature=1000.0).collect()}
    assert abs(thuge["big"]["target_share"] - 0.5) < 0.01
    tsharp = {r["src"]: r for r in
              mixture_plan(df, "src", temperature=0.5).collect()}
    assert tsharp["big"]["target_share"] > 0.9
    with _pytest.raises(ValueError):
        mixture_plan(df, "src", target={"big": 1.0}, temperature=2.0)
    with _pytest.raises(ValueError):
        mixture_plan(df, "src", temperature=0.0)


def test_quantile_bins_no_global_sort(spark):
    """quantile_bins: decile sizes within interpolation tolerance, bins
    monotone in the value, and the physical plan has NO global-sort
    ntile window — the cuts ride a 1-row broadcast."""
    from helix_db_spark.operators.sampling import quantile_bins

    df = spark.createDataFrame([(i, float(i)) for i in range(1000)],
                               "id long, v double")
    out = quantile_bins(df, "v", bins=10)
    rows = out.collect()
    sizes = {}
    for r in rows:
        sizes[r["bin"]] = sizes.get(r["bin"], 0) + 1
    assert set(sizes) == set(range(10))
    assert all(90 <= n <= 110 for n in sizes.values()), sizes
    by_v = sorted(rows, key=lambda r: r["v"])
    assert all(a["bin"] <= b["bin"] for a, b in zip(by_v, by_v[1:]))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, "quantile_bins must not run a window"
    assert "CartesianProduct" not in plan


def test_bigram_cross_entropy_word_order_signal(spark):
    """The bigram LM captures word order where the unigram LM cannot:
    a document made of another doc's SHUFFLED tokens keeps its unigram
    cross-entropy but scores strictly worse (higher) under the bigram
    model; repeated coherent text scores better than both."""
    from helix_db_spark.operators.textstats import (bigram_cross_entropy,
                                                    lm_cross_entropy)

    sent = "the quick brown fox jumps over the lazy dog"
    # the corpus is dominated by the coherent word order (8 copies);
    # doc 9 is the same bag of words REVERSED, appearing once — its
    # bigrams are corpus-rare while its unigrams are corpus-common
    rows = [(i, sent) for i in range(1, 9)] \
        + [(9, " ".join(reversed(sent.split())))]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    uni = {r["doc_id"]: r["cross_entropy"]
           for r in lm_cross_entropy(df, "doc_id", "text").collect()}
    bi = {r["doc_id"]: r["cross_entropy"]
          for r in bigram_cross_entropy(df, "doc_id", "text").collect()}
    # same bag of words -> identical unigram score: the unigram LM is
    # blind to the scramble
    assert abs(uni[1] - uni[9]) < 1e-9
    # ...but the bigram LM is not
    assert bi[9] > bi[1] + 0.5
    out = bigram_cross_entropy(df, "doc_id", "text").collect()[0]
    assert set(out.asDict()) == {"doc_id", "n_bigrams", "cross_entropy",
                                 "ppl"}
    assert out["n_bigrams"] == len(sent.split()) - 1


# ---------------------------------------------------------------------------
# Naive Bayes classifier filtering
# ---------------------------------------------------------------------------


def test_nb_classify_disjoint_vocab(spark):
    """Hand-checkable corpus: two classes with disjoint vocabularies are
    classified perfectly; scores match the closed form."""
    import math
    from helix_db_spark.operators.textstats import nb_classify
    train = spark.createDataFrame(
        [(1, "cat cat dog", "animal"),
         (2, "dog cat", "animal"),
         (3, "bolt nut bolt", "machine")],
        "doc_id long, text string, lang string")
    test = spark.createDataFrame(
        [(10, "cat dog", None),
         (11, "bolt bolt", None),
         (12, "", None)],
        "doc_id long, text string, lang string")
    out = {r["doc_id"]: r for r in
           nb_classify(train, test, "doc_id", "text", "lang").collect()}
    assert out[10]["pred_lang"] == "animal"
    assert out[11]["pred_lang"] == "machine"
    # empty doc: prior argmax = 'animal' (2 of 3 train docs)
    assert out[12]["pred_lang"] == "animal"
    assert out[12]["log_score"] == round(math.log(2 / 3), 6)
    # closed form for doc 10 under class 'animal':
    # V=4 vocab {cat,dog,bolt,nut}; N_animal=5 tokens;
    # P(cat)= (3+1)/(5+4), P(dog)=(2+1)/(5+4); prior 2/3
    want = math.log(2 / 3) + math.log(4 / 9) + math.log(3 / 9)
    assert out[10]["log_score"] == pytest.approx(round(want, 6), abs=1e-6)


def test_nb_classify_unseen_tokens_and_tiebreak(spark):
    """Tokens unseen in training cost the smoothed floor in EVERY class
    (no NULL poisoning); exact score ties break on the label."""
    import math
    from helix_db_spark.operators.textstats import nb_classify
    train = spark.createDataFrame(
        [(1, "aa", "x"), (2, "bb", "y")],
        "doc_id long, text string, lang string")
    test = spark.createDataFrame(
        [(10, "zz zz", None)], "doc_id long, text string, lang string")
    row = nb_classify(train, test, "doc_id", "text", "lang").collect()[0]
    # symmetric classes, unseen token: both score ln(1/2)+2*ln(1/3);
    # tiebreak picks the lexicographically first label
    assert row["pred_lang"] == "x"
    want = math.log(1 / 2) + 2 * math.log(1 / 3)
    assert row["log_score"] == pytest.approx(round(want, 6), abs=1e-6)


def test_nb_classify_recovers_learnable_label(spark):
    """On the real corpus with a label that is genuinely a function of
    the text (the synthetic `lang` column is independent of the token
    pool by construction, so it is unlearnable), held-out NB accuracy
    is near-perfect — the signal-present sanity check."""
    from helix_db_spark.operators.textstats import nb_classify
    docs = (spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .withColumn("band", F.when(
                F.size(F.split("text", " ")) >= 100, "long")
                .otherwise(F.concat(F.lit("has_vec_"),
                                    F.col("text").contains("vector")
                                    .cast("string")))))
    train = docs.filter(F.col("doc_id") % 5 != 0)
    test = docs.filter(F.col("doc_id") % 5 == 0)
    out = nb_classify(train, test, "doc_id", "text", "band")
    agg = out.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("pred_band") == F.col("true_band"), 1)
              .otherwise(0)).alias("ok")).collect()[0]
    assert agg["n"] == test.count()
    assert agg["ok"] / agg["n"] >= 0.9


def test_gopher_quality_flags_each_rule(spark):
    from helix_db_spark.operators.textstats import gopher_quality_flags
    good = ("the quick brown fox jumps over the lazy dog and then "
            "sits down to rest beside the river with a happy sigh "
            "while the sun sets slowly over the quiet hills and the "
            "water keeps moving past the stones toward the far sea "
            "carrying small leaves that drift along have with be of") # >=50 words
    docs = spark.createDataFrame(
        [(1, good),
         (2, "too few words"),                          # fails wc
         (3, " ".join(["a"] * 60)),                     # mean wlen < 3
         (4, ("## " * 30) + good),                      # symbol ratio > 0.1
         (5, "\n".join(["- item " + str(i) for i in range(10)])),  # bullets
         (6, " ".join(["1234"] * 60)),                  # alpha < 0.8
         (7, " ".join(["zz"] * 60)),                    # no stop words
         (8, ""),                                       # empty
         (9, None)],                                    # NULL text
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           gopher_quality_flags(docs, "doc_id", "text").collect()}
    assert out[1]["keep"] is True
    assert out[2]["wc_ok"] is False and out[2]["keep"] is False
    assert out[3]["wlen_ok"] is False
    assert out[4]["sym_ok"] is False
    assert out[5]["bullet_ok"] is False      # 100% bullet lines
    assert out[6]["alpha_ok"] is False
    assert out[7]["stop_ok"] is False
    for d in (8, 9):
        assert out[d]["n_words"] == 0 and out[d]["keep"] is False
        assert out[d]["bullet_ok"] is True  # vacuous: no lines


def test_gopher_flags_crlf_matches_oracle_semantics(spark):
    """CRLF documents: lines split on \\r?\\n and the ellipsis anchor is
    end-of-text (\\z), matching RE2's '$' — Java's '$' would match
    before a trailing \\r and silently diverge from the DuckDB oracle."""
    import duckdb
    from helix_db_spark.operators.textstats import gopher_quality_flags
    crlf = "one line...\r\ntwo line...\r\nthree\r\nfour\r\nfive\r\nended...\r"
    docs = spark.createDataFrame([(1, crlf)], "doc_id long, text string")
    row = gopher_quality_flags(docs, "doc_id", "text").collect()[0]
    # oracle-side replay of the two line rules on the same text
    o = duckdb.sql(
        "WITH w AS (SELECT list_filter(regexp_split_to_array(?, "
        "'\r?\n'), x -> x <> '') AS ls) "
        "SELECT len(ls) AS nl, len(list_filter(ls, x -> "
        "regexp_matches(x, '(\\.\\.\\.|…)$'))) AS nel FROM w",
        params=[crlf]).fetchone()
    nl, nel = o
    assert nl == 6
    # the trailing '...\r' line does NOT count on either engine
    assert nel == 2
    assert row["bullet_ok"] == (nel / nl <= 0.3)


def test_nb_classify_ignores_null_label_train_rows(spark):
    """NULL-label train rows are not a class: without the filter they
    would win every argmax on prior-only score."""
    from helix_db_spark.operators.textstats import nb_classify
    train = spark.createDataFrame(
        [(1, "cat cat", "animal"), (2, "bolt", "machine"),
         (3, "cat dog mouse", None), (4, "nut bolt", None)],
        "doc_id long, text string, lang string")
    test = spark.createDataFrame(
        [(10, "cat", None)], "doc_id long, text string, lang string")
    row = nb_classify(train, test, "doc_id", "text", "lang").collect()[0]
    assert row["pred_lang"] == "animal"


def test_gopher_flags_discriminate_on_corpus(spark):
    """On the synthetic corpus the rule set is not a constant — some
    rules pass everywhere (healthy docs) but keep varies."""
    from helix_db_spark.operators.textstats import gopher_quality_flags
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = gopher_quality_flags(docs, "doc_id", "text")
    n = out.count()
    assert 0 < n
    # the word-count rule genuinely discriminates on this corpus; the
    # stop-word rule honestly fails everywhere (the synthetic vocab has
    # 'the'/'a' but not two DISTINCT Gopher stop words) — pin both so a
    # silent rule regression can't hide
    wc = out.filter("wc_ok").count()
    assert 0 < wc < n
    assert out.filter("stop_ok").count() == 0
    # every doc got exactly one row and no NULL flags
    assert out.filter("wc_ok IS NULL OR wlen_ok IS NULL OR sym_ok IS NULL "
                      "OR bullet_ok IS NULL OR alpha_ok IS NULL "
                      "OR stop_ok IS NULL OR keep IS NULL").count() == 0
    assert n == docs.count()


# ---------------------------------------------------------------------------
# deterministic Bloom prefilter
# ---------------------------------------------------------------------------


def test_bloom_no_false_negatives_and_low_fp(spark):
    from pyspark.sql import functions as F

    from helix_db_spark.operators.dedup import (bloom_might_contain,
                                                bloom_words)
    ins = spark.range(500).select(
        (F.col("id") * 982451653 % (1 << 60)).alias("h"))
    words = bloom_words(ins, "h")
    assert len(words) == (1 << 16) // 64
    # false negatives are impossible
    assert ins.filter(bloom_might_contain(F.col("h"), words)).count() == 500
    # determinism: rebuilding gives the identical filter
    assert bloom_words(ins, "h") == words
    # uniform (md5-hashed) absent probes mostly miss
    probe = spark.range(50000).select(
        F.conv(F.substring(F.md5(F.concat(F.lit("absent-"),
                                          F.col("id").cast("string"))),
                           1, 15), 16, 10).cast("long").alias("h"))
    fp = probe.filter(bloom_might_contain(F.col("h"), words)).count()
    assert fp < 50  # fpp ~1e-6 at n=500/m=65536/k=4; 50/50000 = 1e-3 cap


def test_bloom_prefilter_matches_exact_contamination(spark):
    from pyspark.sql import functions as F

    from helix_db_spark.functions.text import tokens
    from helix_db_spark.operators.dedup import (
        benchmark_contamination, benchmark_contamination_bloom)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 10 == 0).select(
        "doc_id",
        F.array_join(F.slice(tokens(F.col("text")), 5, 12), " ")
         .alias("text"))
    a = sorted(map(tuple, benchmark_contamination(
        docs, bench, "doc_id", "text").collect()))
    b = sorted(map(tuple, benchmark_contamination_bloom(
        docs, bench, "doc_id", "text").collect()))
    assert a == b and len(a) > 0
