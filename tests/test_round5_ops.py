"""Property tests for the round-5 operators (BM25, Count-Min-Sketch,
source-overlap). Value parity vs DuckDB is covered by the parametrized
oracle sweep (test_oracle_parity.py); these pin the semantic invariants
that a hash match alone would not explain to a reader."""

from mapreduce_model_spark.registry import QUERIES

SF = "/root/testdata/sf0.001"


def test_cms_never_underestimates(spark):
    """Count-Min is one-sided: the sketch estimate is >= the exact count
    for every word (collisions only ever ADD mass), and with 4 rows the
    min over rows must be tight for at least some words."""
    rows = QUERIES["cms_heavy_hitters"](spark, SF).collect()
    assert len(rows) == 20
    assert all(r["cms_est"] >= r["n"] for r in rows), rows
    assert any(r["cms_est"] == r["n"] for r in rows)


def test_bm25_topk_is_ranked_and_positive(spark):
    rows = QUERIES["bm25_topk"](spark, SF).collect()
    assert len(rows) == 20
    scores = [r["bm25"] for r in rows]
    assert all(s > 0 for s in scores)
    assert scores == sorted(scores, reverse=True)
    # deterministic tie-break: (score desc, doc_id asc)
    for a, b in zip(rows, rows[1:]):
        if a["bm25"] == b["bm25"]:
            assert a["doc_id"] < b["doc_id"]


def test_source_overlap_is_valid_jaccard(spark):
    rows = QUERIES["source_overlap"](spark, SF).collect()
    assert rows, "synthetic sources share vocabulary — overlap must exist"
    seen = set()
    for r in rows:
        assert r["source_a"] < r["source_b"]
        assert (r["source_a"], r["source_b"]) not in seen
        seen.add((r["source_a"], r["source_b"]))
        assert 0.0 < r["jaccard"] <= 1.0
        assert r["n_shared"] >= 1


def test_lm_perplexity_bounds(spark):
    """ppl = exp(-mean ln p) with p < 1 strictly, so ppl > 1 for every
    doc; docs with < 2 words produce no row."""
    rows = QUERIES["lm_perplexity"](spark, SF).collect()
    assert rows
    assert all(r["ppl"] > 1.0 for r in rows)
    assert all(r["n_bigrams"] >= 1 for r in rows)


def test_ngram_novelty_first_doc_is_fully_novel(spark):
    """The smallest doc_id with shingles sees everything first: its
    novelty must be exactly 1.0; all ratios live in [0, 1]."""
    rows = QUERIES["ngram_novelty"](spark, SF).collect()
    assert rows
    by_id = sorted(rows, key=lambda r: r["doc_id"])
    assert by_id[0]["novelty"] == 1.0
    for r in rows:
        assert 0.0 <= r["novelty"] <= 1.0
        assert 0 <= r["n_novel"] <= r["n_shingles"]


def test_bloom_decontaminate_is_one_sided(spark, tmp_path):
    """Bloom screening can only over-flag, never under-flag: every exact
    duplicate must be a bloom hit, so per source
    n_bloom_hits == n_exact_hits + n_false_pos holds exactly. Planted
    data exercises the paths the synthetic corpus doesn't (it has no
    cross-source exact duplicates)."""
    rows = []
    for i in range(30):  # eval corpus (src0)
        rows.append((i, f"eval doc {i} unique words alpha{i}", "en", "src0", 20))
    for i in range(10):  # training copies of eval docs -> exact hits
        rows.append((100 + i, f"Eval  doc {i} unique words ALPHA{i} ", "en", "src1", 20))
    for i in range(40):  # clean training docs
        rows.append((200 + i, f"clean doc {i} beta{i}", "en", "src1", 15))
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.parquet(str(tmp_path / "documents.parquet"))

    out = {
        r["source"]: r
        for r in QUERIES["decontaminate_bloom"](spark, str(tmp_path)).collect()
    }
    r = out["src1"]
    assert r["n_docs"] == 50
    # normalization (lower + whitespace collapse) makes the copies exact
    assert r["n_exact_hits"] == 10
    assert r["n_bloom_hits"] == r["n_exact_hits"] + r["n_false_pos"]
    assert "src0" not in out, "the eval corpus itself is never screened"


def test_containment_catches_doc_inside_doc(spark):
    """A short doc quoted verbatim inside a long one: containment of the
    quote is ~1.0 while Jaccard stays below the 0.5 near-dup bar — the
    exact case the asymmetric measure exists for."""
    from mapreduce_model_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    quote = "the quick brown fox jumps over the lazy dog every single morning"
    # letters only: normalization strips digits, which would collapse
    # numbered filler words into one repeated shingle
    filler = " ".join(f"q{a}{b}" for a in "abcdefgh" for b in "abcdefgh")
    df = spark.createDataFrame(
        [(1, quote), (2, quote + " " + filler)], "doc_id long, text string"
    )
    got = {
        (r["id_a"], r["id_b"]): r
        for r in containment_pairs(df, threshold=0.6).collect()
    }
    assert (1, 2) in got
    r = got[(1, 2)]
    assert r["cont_a_in_b"] == 1.0  # every quote shingle is in the article
    assert r["cont_b_in_a"] < 0.5   # the article is NOT inside the quote
    assert not ngram_jaccard_pairs(df, threshold=0.5).collect(), (
        "symmetric Jaccard must miss this pair — that's the point"
    )


def test_chunk_dedup_conserves_distinct_chunks(spark):
    """First-writer-wins at chunk granularity: the total of kept chunks
    equals the number of DISTINCT chunk texts in the corpus (every distinct
    chunk survives exactly once), and no doc keeps more than it has."""
    from pyspark.sql import functions as F

    from mapreduce_model_spark.functions.text import words_array
    from mapreduce_model_spark.queries_dedup import CHUNK_WORDS
    from mapreduce_model_spark.registry import table

    rows = QUERIES["chunk_dedup"](spark, SF).collect()
    assert rows
    assert all(0 <= r["n_kept"] <= r["n_chunks"] for r in rows)
    assert all(0.0 <= r["kept_frac"] <= 1.0 for r in rows)
    docs = table(spark, SF, "documents").select(
        words_array("text").alias("words")
    )
    n_distinct = (
        docs.where(F.size("words") > 0)
        .select(
            F.explode(
                F.transform(
                    F.sequence(
                        F.lit(1), F.ceil(F.size("words") / CHUNK_WORDS).cast("int")
                    ),
                    lambda i: F.array_join(
                        F.slice("words", (i - 1) * CHUNK_WORDS + 1, F.lit(CHUNK_WORDS)),
                        " ",
                    ),
                )
            ).alias("c")
        )
        .distinct()
        .count()
    )
    assert sum(r["n_kept"] for r in rows) == n_distinct


def test_eval_coverage_bounds(spark):
    rows = QUERIES["eval_coverage"](spark, SF).collect()
    assert rows, "src0 is the eval corpus — it has docs with >= 5 words"
    for r in rows:
        assert 0 <= r["n_hit"] <= r["n_shingles"]
        assert 0.0 <= r["coverage"] <= 1.0


def test_time_embargo_split_partitions_all_events(spark):
    from mapreduce_model_spark.registry import table

    rows = {r["split"]: r for r in QUERIES["time_embargo_split"](spark, SF).collect()}
    assert set(rows) == {"train", "embargo", "test"}
    total = table(spark, SF, "events").count()
    assert sum(r["n_events"] for r in rows.values()) == total
    shared = {r["n_train_test_shared_users"] for r in rows.values()}
    assert len(shared) == 1, "the audit column is one global number"
    assert all(r["n_users"] <= r["n_events"] for r in rows.values())


def test_max_concurrent_matches_brute_force(spark):
    """The sweep line must agree with a direct per-type simulation over
    the full sf0.001 events table (intervals [ts, ts+300s))."""
    from collections import defaultdict

    from mapreduce_model_spark.registry import table

    got = {
        r["event_type"]: r["max_concurrent"]
        for r in QUERIES["max_concurrent_intervals"](spark, SF).collect()
    }
    by_type = defaultdict(list)
    for r in table(spark, SF, "events").select("event_type", "ts").collect():
        by_type[r["event_type"]].append(r["ts"].timestamp())
    for et, starts in by_type.items():
        pts = [(t, 1) for t in starts] + [(t + 300.0, -1) for t in starts]
        cur = best = 0
        for _, d in sorted(pts, key=lambda p: (p[0], p[1])):
            cur += d
            best = max(best, cur)
        assert got[et] == best, et


def test_anomaly_seasonal_flags_planted_outlier(spark, tmp_path):
    """A value 100x outside its (type, hour) cell must be the only flag."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 9, 0, 0)
    rows = [
        (i, base + dt.timedelta(minutes=i), i % 7, "click", 10.0 + (i % 5), None)
        for i in range(40)
    ]
    rows.append((99, base + dt.timedelta(minutes=41), 3, "click", 1000.0, None))
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    df.write.parquet(str(tmp_path / "events.parquet"))
    out = {
        r["event_type"]: r for r in QUERIES["anomaly_seasonal"](spark, str(tmp_path)).collect()
    }
    r = out["click"]
    assert r["n_anomalies"] == 1
    assert r["max_z"] > 3


def test_entity_match_blocking_catches_one_word_typos(spark):
    """Every returned pair must share at least one token (the blocking
    contract), be totally ordered, and sit within the edit-distance bar."""
    rows = QUERIES["entity_match_names"](spark, SF).collect()
    assert rows, "the small part-name vocabulary guarantees near matches"
    for r in rows:
        assert r["name_a"] < r["name_b"]
        assert 1 <= r["dist"] <= 3
        ta, tb = set(r["name_a"].split()), set(r["name_b"].split())
        assert ta & tb, "blocked pair with no shared token"
        assert r["n_parts_a"] >= 1 and r["n_parts_b"] >= 1


def test_frame_dedup_conserves_first_seen(spark):
    """Across the corpus each distinct frame hash is first-seen exactly
    once: sum(n_first_seen) == number of distinct sampled-frame hashes."""
    from pyspark.sql import functions as F

    from mapreduce_model_spark.operators.multimodal import (
        attach_payload,
        sample_frames,
    )
    from mapreduce_model_spark.registry import table

    rows = QUERIES["multimodal_frame_dedup"](spark, SF).collect()
    assert rows
    assert all(0 <= r["n_first_seen"] <= r["n_frames"] for r in rows)
    media = attach_payload(table(spark, SF, "documents"))
    n_distinct = (
        sample_frames(media, frame_bytes=256, every_k=4)
        .select(F.md5("frame"))
        .distinct()
        .count()
    )
    assert sum(r["n_first_seen"] for r in rows) == n_distinct


def test_ab_test_welch_detects_planted_effect(spark, tmp_path):
    """A variant shifted by 10 sigma must flag significant; a no-effect
    type must not. Variant assignment is props.k parity."""
    import datetime as dt

    base = dt.datetime(2024, 3, 1)
    rows = []
    for i in range(400):
        ts = base + dt.timedelta(minutes=i)
        # treated cell of 'promo' gets a large additive effect
        effect = 50.0 if (i % 2 == 1) else 0.0
        rows.append((i, ts, i % 13, "promo", 10.0 + (i % 7) + effect, f'{{"k": {i}}}'))
        rows.append((1000 + i, ts, i % 13, "plain", 10.0 + (i % 7), f'{{"k": {i}}}'))
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    df.write.parquet(str(tmp_path / "events.parquet"))
    out = {r["event_type"]: r for r in QUERIES["ab_test_welch"](spark, str(tmp_path)).collect()}
    assert out["promo"]["significant"] and out["promo"]["t_stat"] < 0
    assert not out["plain"]["significant"]
    assert out["promo"]["n_a"] == out["promo"]["n_b"] == 200


def test_basket_lift_is_ordered_and_supported(spark):
    rows = QUERIES["basket_lift"](spark, SF).collect()
    assert 0 < len(rows) <= 20
    keys = [(-r["lift"], r["part_a"], r["part_b"]) for r in rows]
    assert keys == sorted(keys)
    for r in rows:
        assert r["n_both"] >= 3
        assert r["part_a"] < r["part_b"]
        assert r["lift"] > 0


def test_mutual_information_nonnegative(spark):
    rows = QUERIES["mutual_information"](spark, SF).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["mi_nats"] >= -1e-6, "MI is nonnegative up to rounding"
    assert r["n_cells"] >= 1 and r["n"] > 0


def test_target_encoding_shrinks_toward_global_mean(spark):
    """encoded is a convex combination of the category mean and the global
    mean, so it must lie between them (inclusive up to rounding)."""
    from mapreduce_model_spark.registry import table

    mu = table(spark, SF, "orders").agg({"o_totalprice": "avg"}).first()[0]
    for r in QUERIES["target_encode_smoothed"](spark, SF).collect():
        lo, hi = sorted([r["raw_mean"], mu])
        assert lo - 1e-3 <= r["encoded"] <= hi + 1e-3, r


def test_corr_matrix_bounds_and_shape(spark):
    rows = QUERIES["corr_matrix"](spark, SF).collect()
    assert len(rows) == 6
    seen = set()
    for r in rows:
        assert -1.0 <= r["corr"] <= 1.0
        assert (r["col_a"], r["col_b"]) not in seen
        seen.add((r["col_a"], r["col_b"]))


def test_class_rebalance_is_exactly_balanced(spark):
    """Every language must end with exactly the minority-class count, and
    the kept set must be the md5-lowest ids per class (deterministic)."""
    from collections import Counter

    from mapreduce_model_spark.registry import table

    rows = QUERIES["class_rebalance"](spark, SF).collect()
    by_lang = Counter(r["lang"] for r in rows)
    full = Counter(
        r["lang"] for r in table(spark, SF, "documents").select("lang").collect()
    )
    target = min(full.values())
    assert set(by_lang) == set(full)
    assert all(v == target for v in by_lang.values()), by_lang
    assert all(1 <= r["rk"] <= target for r in rows)


def test_dataset_card_is_one_row_consistent(spark):
    from mapreduce_model_spark.registry import table

    r = QUERIES["dataset_card"](spark, SF).collect()
    assert len(r) == 1
    c = r[0]
    n = table(spark, SF, "documents").count()
    assert c["n_docs"] == n
    assert c["min_words"] <= c["median_words"] <= c["max_words"]
    assert c["min_words"] <= c["avg_words"] <= c["max_words"]
    assert len(c["langs"].split(",")) == c["n_langs"]


def test_dau_wau_stickiness_invariants(spark):
    """WAU's window includes the day itself, so wau >= dau and stickiness
    is in (0, 1]; spot-check one day's WAU against a direct recompute."""
    from collections import defaultdict

    from mapreduce_model_spark.registry import table

    rows = {r["day"]: r for r in QUERIES["dau_wau_stickiness"](spark, SF).collect()}
    assert rows
    for r in rows.values():
        assert r["wau"] >= r["dau"] >= 1
        assert 0 < r["stickiness"] <= 1.0
    from pyspark.sql import functions as F

    by_day = defaultdict(set)
    # to_date on the UTC-pinned session, NOT e["ts"].date() — collect()ed
    # timestamps convert via the OS timezone and would shift events near
    # UTC midnight into the previous local day on non-UTC machines
    for e in (
        table(spark, SF, "events")
        .select(F.to_date("ts").alias("day"), "user_id")
        .collect()
    ):
        by_day[e["day"]].add(e["user_id"])
    probe = sorted(rows)[len(rows) // 2]
    import datetime as dt

    expect = set()
    for k in range(7):
        expect |= by_day.get(probe - dt.timedelta(days=k), set())
    assert rows[probe]["wau"] == len(expect)
    assert rows[probe]["dau"] == len(by_day[probe])


def test_phrase_search_matches_string_find(spark):
    """Positional-join results must equal direct normalized-substring
    counting (adjacent-pair scan) per doc."""
    from mapreduce_model_spark.registry import table
    from tests.pymodel import words as py_words

    got = {
        r["doc_id"]: (r["n_occurrences"], r["first_pos"])
        for r in QUERIES["phrase_search"](spark, SF).collect()
    }
    exp = {}
    for r in table(spark, SF, "documents").select("doc_id", "text").collect():
        words = py_words(r["text"])
        hits = [
            i
            for i in range(len(words) - 1)
            if words[i] == "table" and words[i + 1] == "scan"
        ]
        if hits:
            exp[r["doc_id"]] = (len(hits), hits[0])
    assert got == exp
    assert exp, "the synthetic vocabulary guarantees phrase hits"


def test_k_anonymity_flags_small_classes(spark):
    from mapreduce_model_spark.registry import table

    rows = QUERIES["k_anonymity_audit"](spark, SF).collect()
    assert rows
    total = sum(r["group_size"] for r in rows)
    assert total == table(spark, SF, "documents").count()
    for r in rows:
        assert r["risky"] == (r["group_size"] < 5)


def test_sql_table_function_surface(spark):
    """Spark 4 SQL-defined TABLE functions (CREATE ... RETURNS TABLE
    RETURN SELECT): the body is analyzed at CREATE time (views must
    pre-exist) and calls inline like a parameterized view."""
    from pyspark.sql import functions as F

    from mapreduce_model_spark.registry import table

    cust = table(spark, SF, "customer")
    cust.createOrReplaceTempView("customer_tf")
    spark.sql(
        """CREATE OR REPLACE TEMPORARY FUNCTION top_spenders(minbal DOUBLE)
           RETURNS TABLE(c_custkey BIGINT, c_acctbal DOUBLE)
           RETURN SELECT c_custkey, c_acctbal
                  FROM customer_tf WHERE c_acctbal > minbal"""
    )
    got = spark.sql("SELECT count(*) AS n FROM top_spenders(5000.0)").first()["n"]
    exp = cust.where(F.col("c_acctbal") > 5000.0).count()
    assert got == exp and exp > 0
    # parameterization really parameterizes
    got0 = spark.sql("SELECT count(*) AS n FROM top_spenders(-1e9)").first()["n"]
    assert got0 == cust.count()


def test_rfm_segments_cover_all_users(spark):
    from mapreduce_model_spark.registry import table

    rows = QUERIES["rfm_segments"](spark, SF).collect()
    assert rows
    n_users = (
        table(spark, SF, "events").select("user_id").distinct().count()
    )
    assert sum(r["n_users"] for r in rows) == n_users
    for r in rows:
        parts = r["segment"].split("-")
        assert len(parts) == 3
        assert all(1 <= int(p) <= 5 for p in parts)


def test_vocab_coverage_curve_is_monotone(spark):
    rows = sorted(
        QUERIES["vocab_coverage_curve"](spark, SF).collect(),
        key=lambda r: r["vocab_size"],
    )
    assert [r["vocab_size"] for r in rows] == [8, 16, 24, 32]
    covs = [r["coverage"] for r in rows]
    assert covs == sorted(covs), "coverage grows with vocab size"
    for r in rows:
        assert 0 < r["coverage"] <= 1.0
        assert abs(r["coverage"] + r["oov_rate"] - 1.0) < 1e-6
    # the synthetic corpus has ~31 distinct words: a 32-word vocab covers all
    assert rows[-1]["coverage"] == 1.0


def test_wau_hll_tracks_exact_within_5pct(spark):
    """The sketch path must track the exact overlapping-window distinct
    count within HLL error on every observed day (lgK=14 ~ 1% typical)."""
    exact = {
        r["day"]: r["wau"] for r in QUERIES["dau_wau_stickiness"](spark, SF).collect()
    }
    approx = {
        r["day"]: r["wau_approx"]
        for r in QUERIES["wau_hll_sliding"](spark, SF).collect()
    }
    assert set(approx) == set(exact)
    for day, wau in exact.items():
        assert abs(approx[day] - wau) <= max(2, 0.05 * wau), (day, wau, approx[day])
