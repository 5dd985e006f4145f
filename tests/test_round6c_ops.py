"""Round-6 third-wave pins: the LSH recall audit (lsh_recall_report).

The registry sweep hash-checks the report against DuckDB on the shipped
corpus; these tests pin the contracts the corpus can't exhibit — the
banding S-curve needs pairs NEAR the threshold, and the shipped synthetic
near-dups all sit at J ≥ 0.9 (where recall is ~1.0 and the report is
trivially flat).
"""

from pyspark.sql import functions as F

from mapreduce_model_spark.functions.dedup_sql import (
    BANDS,
    JACCARD_THRESHOLD,
    K,
    LSH_THRESHOLD,
    MAX_BUCKET,
    MAX_SHINGLE_DF,
    ROWS,
    SHINGLE_K,
)
from mapreduce_model_spark.operators.dedup import (
    jaccard_decile_pairs,
    lsh_near_dup_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
)
from mapreduce_model_spark.registry import QUERIES, table


def _w(i: int) -> str:
    """Unique pure-letter token (digits would be stripped by the
    reference tokenizer's [^a-z] rule and collide)."""
    out = []
    i += 1
    while i:
        out.append(chr(97 + i % 26))
        i //= 26
    return "".join(out) * 2  # length ≥ 2 keeps tokens visually distinct


def _planted_docs(spark):
    """40 'low' pairs engineered to J ≈ 0.52 (decile 5 — the S-curve's
    steep region, where 8×4 banding + est ≥ 0.5 must lose some pairs) and
    15 'high' pairs at J ≈ 0.98 (decile 9 — where it must not). Each pair
    draws from its own vocabulary so pairs can't cross-match and no
    shingle approaches the df cap."""
    rows = []
    vid = 0

    def fresh(n):
        nonlocal vid
        ws = [_w(vid * 1000 + j) for j in range(n)]
        vid += 1
        return ws

    doc_id = 0
    for _ in range(40):  # low: share 28 of 40 words ⇒ J = 26/50 = 0.52
        ws = fresh(40 + 12)
        a, b = ws[:40], ws[:28] + ws[40:]
        rows.append((doc_id, " ".join(a)))
        rows.append((doc_id + 1, " ".join(b)))
        doc_id += 2
    for _ in range(15):  # high: 100 words, last swapped ⇒ 97 of 99 distinct
        # trigrams shared (exactly one trigram per side touches the swapped
        # word) ⇒ J = 97/99 ≈ 0.98, decile 9
        ws = fresh(101)
        a, b = ws[:100], ws[:99] + ws[100:]
        rows.append((doc_id, " ".join(a)))
        rows.append((doc_id + 1, " ".join(b)))
        doc_id += 2
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_lsh_recall_s_curve_on_planted_pairs(spark):
    """The audit's reason to exist: recall at the threshold decile is
    strictly below recall deep inside the S-curve, and near-exact pairs
    are essentially never lost. Deterministic — every hash is md5-derived
    and the corpus is fixed."""
    docs = _planted_docs(spark)
    truth = jaccard_decile_pairs(docs, shingle_k=SHINGLE_K, max_shingle_df=MAX_SHINGLE_DF)
    mh = lsh_near_dup_pairs(
        minhash_signatures(docs, k=K, shingle_k=SHINGLE_K),
        bands=BANDS,
        rows=ROWS,
        threshold=LSH_THRESHOLD,
        max_bucket=MAX_BUCKET,
    )
    t = {(r.id_a, r.id_b): r.j_decile for r in truth.collect()}
    hits = {(r.id_a, r.id_b) for r in mh.collect()}

    low = {p for p, d in t.items() if d <= 6}
    high = {p for p, d in t.items() if d >= 9}
    assert len(low) >= 30, f"planting failed: {sorted(t.values())}"
    assert len(high) >= 10
    recall_low = len(low & hits) / len(low)
    recall_high = len(high & hits) / len(high)
    assert recall_high >= 0.9
    assert recall_low < recall_high, (recall_low, recall_high)
    # the steep region genuinely loses pairs — if this ever reads 1.0 the
    # planted J drifted out of the S-curve's knee and the test is vacuous
    assert recall_low < 0.9, recall_low


def test_decile_truth_consistent_with_float_threshold(spark, sf_dir):
    """Integer-exact truth (2·inter ≥ union) selects EXACTLY the pairs the
    float-threshold exact-Jaccard query keeps at 0.5 — the two faces of
    the same ground truth never disagree, so the report's denominators
    are the pairs dedup_ngram_jaccard ships."""
    docs = table(spark, sf_dir, "documents")
    dec = jaccard_decile_pairs(docs, shingle_k=SHINGLE_K, max_shingle_df=MAX_SHINGLE_DF)
    flt = ngram_jaccard_pairs(
        docs,
        shingle_k=SHINGLE_K,
        threshold=JACCARD_THRESHOLD,
        max_shingle_df=MAX_SHINGLE_DF,
    )
    a = {(r.id_a, r.id_b) for r in dec.collect()}
    b = {(r.id_a, r.id_b) for r in flt.collect()}
    assert a == b


def test_ngram_udtf_matches_jvm_on_nonascii_whitespace(spark, sf_dir):
    """The UDTF's Python tokenizer must agree with the JVM words_array on
    NON-ASCII whitespace: Python's \\s is Unicode-aware (splits U+00A0),
    Java's is not — the UDTF uses an explicit ASCII class so all engines
    keep 'ab\\u00a0cd' as ONE token whose [^a-z] strip yields 'abcd'.
    Guards the advertised tokenizer triple-parity beyond ASCII corpora
    (the review finding that motivated the explicit class)."""
    from mapreduce_model_spark.functions.text import words_array

    QUERIES["ngram_cols_udtf"](spark, sf_dir)  # registers the UDTF
    df = spark.createDataFrame(
        [(1, "ab\u00a0cd ef\u2009gh ij kl mn")], "doc_id long, text string"
    )
    df.createOrReplaceTempView("u_docs")
    got = {
        (r.pos, r.w1, r.w2, r.w3)
        for r in spark.sql(
            "SELECT g.* FROM u_docs d, LATERAL ngram_cols(d.text, 3) g"
        ).collect()
    }
    words = df.select(words_array("text").alias("w")).first()["w"]
    want = {
        (i, *words[i : i + 3]) for i in range(len(words) - 2)
    }
    assert got == want and got, (got, words)


def test_extract_features_arrow_barrier_parity(spark, sf_dir):
    """barrier=True is a pure SCHEDULING change — gang-launch for
    collective init (sharded checkpoint load, NCCL group, rate-limit
    handshake) — and must never change results: identical rows to the
    default wave-scheduled stage. Also proves the barrier path actually
    executes on local[N] (tasks ≤ slots after spread_for_fanout)."""
    from mapreduce_model_spark.operators.multimodal import (
        attach_payload,
        extract_features_arrow,
    )

    media = attach_payload(table(spark, sf_dir, "documents"))
    a = sorted(map(tuple, extract_features_arrow(media).collect()))
    b = sorted(map(tuple, extract_features_arrow(media, barrier=True).collect()))
    assert a == b and a


def test_observe_metrics_ride_the_build_job(spark, sf_dir):
    """Pipeline QA without a second scan: Observation metrics (input
    count, input byte mass) ride the SAME job as the filtered build —
    the pattern a 100 TB corpus build uses to report gate pass-rates
    for free instead of re-aggregating the fact table. Values must match
    independently computed aggregates exactly."""
    from pyspark.sql import Observation

    docs = table(spark, sf_dir, "documents")
    obs = Observation("qa")
    gated = docs.observe(
        obs,
        F.count(F.lit(1)).alias("n_in"),
        F.sum(F.col("n_chars").cast("long")).alias("chars_in"),
    )
    n_kept = gated.filter(F.col("n_chars") >= 64).count()
    m = obs.get
    assert m["n_in"] == docs.count()
    assert m["chars_in"] == docs.agg(F.sum(F.col("n_chars").cast("long"))).first()[0]
    assert 0 < n_kept <= m["n_in"]


def test_overlap_chunks_fully_narrow_and_covering(spark, sf_dir):
    """The pretraining window splitter must stay a pure map pass (ZERO
    exchanges — its docstring's scale claim), and its windows must cover
    every word: consecutive windows of one doc overlap by exactly
    size−stride except the (possibly short) tail, and the last window
    reaches the doc's final word."""
    from mapreduce_model_spark.queries_text import _WIN_SIZE, _WIN_STRIDE

    df = QUERIES["overlap_chunks"](spark, sf_dir)
    p = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "Exchange" not in p, "overlap_chunks must not shuffle"

    rows = df.collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert by_doc
    for doc, ws in by_doc.items():
        ws.sort(key=lambda r: r.win_idx)
        # the tail always ends AT the doc's last word (nw − last_start ≤
        # stride ≤ size by construction), so it recovers the word count
        tail = ws[-1]
        nw = tail.start_word + tail.n_win_words
        for i, r in enumerate(ws):
            assert r.win_idx == i and r.start_word == i * _WIN_STRIDE
            assert r.n_win_words == min(_WIN_SIZE, nw - r.start_word)
            assert 1 <= r.n_win_words <= _WIN_SIZE
        # and the window count is exactly what stride arithmetic demands
        assert len(ws) == (nw - 1) // _WIN_STRIDE + 1


def test_simhash_recall_report_invariants(spark, sf_dir):
    """Same contracts as the LSH report, for the SimHash gate; plus the
    family consistency pin: both reports measure the SAME truth frame, so
    per-decile n_true must agree exactly across the two queries."""
    sh = {r.j_decile: r for r in QUERIES["simhash_recall_report"](spark, sf_dir).collect()}
    lsh = {r.j_decile: r for r in QUERIES["lsh_recall_report"](spark, sf_dir).collect()}
    assert sh and set(sh) == set(lsh)
    for d, r in sh.items():
        assert 5 <= d <= 10
        assert 0 <= r.n_hit_simhash <= r.n_true
        assert r.n_true == lsh[d].n_true
        assert abs(r.recall_simhash - round(r.n_hit_simhash / r.n_true, 4)) <= 1e-4


def test_lsh_recall_report_invariants(spark, sf_dir):
    """Registry-face sanity: hits never exceed truth, deciles live in
    [5, 10], recalls are the advertised ratios."""
    rows = QUERIES["lsh_recall_report"](spark, sf_dir).collect()
    assert rows, "shipped corpus has planted near-dups; report can't be empty"
    for r in rows:
        assert 5 <= r.j_decile <= 10
        assert 0 <= r.n_hit_minhash <= r.n_true
        assert 0 <= r.n_hit_oph <= r.n_true
        assert abs(r.recall_minhash - round(r.n_hit_minhash / r.n_true, 4)) <= 1e-4
        assert abs(r.recall_oph - round(r.n_hit_oph / r.n_true, 4)) <= 1e-4
