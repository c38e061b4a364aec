"""Deterministic-HLL, count-min, and composite quality-gate tests.

Cross-engine hash parity for q58/q59/q60 is covered by
test_oracle_parity; these tests pin the *estimator* properties
(accuracy envelopes, one-sided CMS error, flag semantics) that parity
alone would not catch.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from graphdb_neo4j_spark.operators.sketch import (
    cms_counters,
    cms_estimate,
    hll_distinct,
)
from graphdb_neo4j_spark.operators.text import quality_filter


def test_hll_estimate_within_envelope(spark):
    # m=256 -> relative standard error 1.04/sqrt(256) = 6.5%; allow 3 sigma
    n = 5000
    df = spark.range(n).select(F.col("id").cast("string").alias("v"))
    row = hll_distinct(df, "v").head()
    assert row.n_buckets <= 256
    assert abs(row.est_distinct - n) / n < 0.20
    # harmonic numerator is an exact integer within BIGINT range
    assert 0 < row.harmonic_num < (1 << 60)


def test_hll_small_range_uses_linear_counting(spark):
    # 30 distinct values: most registers empty -> linear counting regime,
    # which is near-exact at tiny cardinalities
    df = spark.range(30).select(F.col("id").cast("string").alias("v"))
    row = hll_distinct(df, "v").head()
    assert row.zero_registers > 0
    assert abs(row.est_distinct - 30) <= 2


def test_hll_ignores_nulls_and_duplicates(spark):
    df = spark.createDataFrame(
        [("a",), ("a",), ("b",), (None,), (None,)], ["v"]
    )
    row = hll_distinct(df, "v").head()
    # linear counting at n=2 is exact
    assert row.est_distinct == pytest.approx(2.0, abs=0.1)


def test_cms_error_is_one_sided(spark):
    # 1 hot item + 2000 rare ones: CMS never underestimates, and the
    # deterministic md5 hashing makes the estimate reproducible
    rows = [("hot",)] * 1000 + [(f"rare{i}",) for i in range(2000)]
    items = spark.createDataFrame(rows, ["item"])
    counters = cms_counters(items, "item")
    cand = spark.createDataFrame([("hot", 1000), ("rare7", 1)], ["item", "exact"])
    got = {r.item: r.cms_est for r in cms_estimate(cand, counters, "item").collect()}
    assert got["hot"] >= 1000
    assert got["rare7"] >= 1
    # w=1024, N=3000 -> expected overcount per cell ~ 3; min over d=4 rows
    # keeps the hot estimate tight
    assert got["hot"] - 1000 <= 100
    # counter matrix never exceeds d*w cells
    assert counters.count() <= 4 * 1024


def test_cms_weighted_counters_match_exploded(spark):
    rows = [("a",)] * 5 + [("b",)] * 3
    exploded = spark.createDataFrame(rows, ["item"])
    pre = spark.createDataFrame([("a", 5), ("b", 3)], ["item", "cnt"])
    c1 = {(r.r, r.bucket): r.cnt for r in cms_counters(exploded, "item").collect()}
    c2 = {
        (r.r, r.bucket): r.cnt
        for r in cms_counters(pre, "item", weight_col="cnt").collect()
    }
    assert c1 == c2


def test_quality_filter_flags(spark):
    good = (
        "the quick brown fox jumps over the lazy dog and then runs far "
        "away to find some more interesting text to read every day"
    )
    docs = spark.createDataFrame(
        [
            (1, good),  # passes everything
            (2, ""),  # empty -> short + stopword
            (3, "word " * 5),  # 5 tokens -> short; also repeat (dup bigrams)
            (4, "spam spam spam spam spam spam spam spam spam spam spam spam"),
            (5, "!!! ??? ... ;;; ::: !!! ??? ... ;;; ::: !!! ???"),  # punct
            (6, "a b c d e f g h i j k l m n o p q r s t"),  # 1-char words
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in quality_filter(docs).collect()}
    assert out[1].passed == 1 and out[1].flag_short == 0
    assert out[2].flag_short == 1 and out[2].passed == 0
    assert out[2].n_tokens == 0 and out[2].mean_word_len == 0.0
    assert out[3].flag_short == 1
    assert out[4].flag_repeat == 1  # all bigrams identical
    assert out[4].flag_stopword == 1  # no English stopwords
    assert out[5].flag_punct == 1
    assert out[6].flag_word_len == 1  # mean word length 1 < 2.5
    assert out[6].passed == 0


# ---------------------------------------------------------------------------
# BPE vocabulary induction
# ---------------------------------------------------------------------------

def py_bpe(texts, num_merges):
    from collections import Counter

    words = Counter()
    for t in texts:
        for w in t.lower().split():
            words[w] += 1
    vocab = {tuple(list(w) + ["</w>"]): c for w, c in words.items()}
    merges = []
    for step in range(1, num_merges + 1):
        pairs = Counter()
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += c
        if not pairs:
            break
        (l, r), cnt = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((step, l, r, l + r, cnt))
        new_vocab = {}
        for syms, c in vocab.items():
            out = []
            for x in syms:
                if out and out[-1] == l and x == r:
                    out[-1] = l + r
                else:
                    out.append(x)
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + c
        vocab = new_vocab
    return merges


def test_bpe_learn_matches_python(spark):
    from graphdb_neo4j_spark.operators.text import bpe_learn

    texts = [
        "low lower lowest low low",
        "new newer newest new newer",
        "wide wider widest",
        "low low low new new",
    ]
    docs = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["doc_id", "text"])
    got = [
        (r.step, r.left, r.right, r.merged, r.pair_count)
        for r in bpe_learn(docs, num_merges=8).orderBy("step").collect()
    ]
    want = py_bpe(texts, 8)
    assert got == want


def test_bpe_greedy_merge_is_nonoverlapping(spark):
    from graphdb_neo4j_spark.operators.text import bpe_learn

    # 'aaaa' -> merging (a,a) must produce 'aa aa', and the next merge
    # is then (aa,aa) — overlap handling where naive implementations slip
    docs = spark.createDataFrame([(1, "aaaa aaaa aaaa")], ["doc_id", "text"])
    got = [
        (r.step, r.left, r.right)
        for r in bpe_learn(docs, num_merges=2).orderBy("step").collect()
    ]
    want = [(s, l, r) for s, l, r, _, _ in py_bpe(["aaaa aaaa aaaa"], 2)]
    assert got == want
    assert got[0][1] == "a" and got[0][2] == "a"


def test_kmv_set_overlap_saturated_sketch(spark):
    from graphdb_neo4j_spark.operators.sketch import kmv_set_overlap

    # |A|=3000, |B|=3000, |A∩B|=1000  ->  union 5000, jaccard 0.2;
    # k=256 << union so the ESTIMATION path (not the exact fallback) runs
    a = spark.range(0, 3000).select(F.concat(F.lit("u"), F.col("id")).alias("v"))
    b = spark.range(2000, 5000).select(F.concat(F.lit("u"), F.col("id")).alias("v"))
    row = kmv_set_overlap(a, b, "v", k=256).head()
    assert row.n_union_sample == 256  # saturated
    assert abs(row.est_union - 5000) / 5000 < 0.20
    assert abs(row.est_jaccard - 0.2) < 0.08
    assert abs(row.est_intersection - 1000) / 1000 < 0.40


def test_kmv_set_overlap_disjoint_and_identical(spark):
    from graphdb_neo4j_spark.operators.sketch import kmv_set_overlap

    a = spark.range(0, 50).select(F.concat(F.lit("x"), F.col("id")).alias("v"))
    b = spark.range(50, 100).select(F.concat(F.lit("x"), F.col("id")).alias("v"))
    row = kmv_set_overlap(a, b, "v").head()
    assert row.est_jaccard == 0.0 and row.est_intersection == 0.0
    assert row.est_union == 100.0  # exact fallback under k
    same = kmv_set_overlap(a, a, "v").head()
    assert same.est_jaccard == 1.0 and same.est_union == 50.0


def test_ntile_distributed_matches_sql_ntile(spark):
    from pyspark.sql import Window

    from graphdb_neo4j_spark.operators.order import ntile_distributed

    # n=103, k=10: first 3 buckets get 11 rows, the rest 10 — the
    # uneven case where NTILE arithmetic goes wrong if off by one
    df = spark.range(103).select(
        (F.col("id") * 37 % 103).alias("v"), F.col("id").alias("tie")
    )
    got = {
        (r.v, r.tie): r.bucket
        for r in ntile_distributed(df, ["v", "tie"], k=10)[0].collect()
    }
    want = {
        (r.v, r.tie): r.nt
        for r in df.withColumn(
            "nt", F.ntile(10).over(Window.orderBy("v", "tie"))
        ).collect()
    }
    assert got == want


def test_weighted_sample_prefers_heavy_items(spark):
    from graphdb_neo4j_spark.operators.sampling import weighted_sample

    # 100 heavy items (w=50) vs 900 light (w=1): a 100-sample should be
    # dominated by heavy items (E[heavy] ≈ 85; deterministic given md5)
    rows = [(i, 50 if i < 100 else 1) for i in range(1000)]
    df = spark.createDataFrame(rows, ["doc_id", "w"])
    got = weighted_sample(df, k=100, weight_col="w", id_col="doc_id").collect()
    n_heavy = sum(1 for r in got if r.doc_id < 100)
    assert n_heavy > 60
    # reproducible: same input -> same sample
    again = weighted_sample(df, k=100, weight_col="w", id_col="doc_id").collect()
    assert {r.doc_id for r in got} == {r.doc_id for r in again}
    # zero-weight items can never appear
    with_zero = spark.createDataFrame(
        [(1, 0), (2, 5)], ["doc_id", "w"]
    )
    only = weighted_sample(with_zero, k=5, weight_col="w", id_col="doc_id").collect()
    assert [r.doc_id for r in only] == [2]


def py_bpe_encode(texts, merges):
    """Reference greedy BPE application (merge list from py_bpe)."""
    out = []
    for t in texts:
        toks = []
        for w in t.lower().split():
            syms = list(w) + ["</w>"]
            for _, l, r, _, _ in merges:
                new = []
                for x in syms:
                    if new and new[-1] == l and x == r:
                        new[-1] = l + r
                    else:
                        new.append(x)
                syms = new
            toks.extend(syms)
        out.append(toks)
    return out


def test_bpe_encode_matches_python(spark):
    """Encode replays the learned merges exactly: per-document symbol
    sequences equal the reference implementation, counts equal their
    lengths, and empty documents encode to []."""
    from graphdb_neo4j_spark.operators.text import (
        bpe_encode,
        bpe_learn,
        bpe_token_counts,
    )

    texts = [
        "low lower lowest low low",
        "new newer newest new newer",
        "wide wider widest",
        "low low low new new",
        "",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    merges_df = bpe_learn(docs, num_merges=8)
    merges = py_bpe(texts, 8)

    got = {r.id: list(r.bpe_tokens) for r in bpe_encode(docs, merges_df).collect()}
    want = {i: toks for i, toks in enumerate(py_bpe_encode(texts, merges))}
    assert got == want

    counts = {r.id: r.n_tokens for r in bpe_token_counts(docs, merges_df).collect()}
    assert counts == {i: len(toks) for i, toks in want.items()}
    assert counts[4] == 0  # empty document

    # lossless round trip: stripping </w> markers reassembles the words
    for i, t in enumerate(texts):
        rebuilt = "".join(got[i]).replace("</w>", " ").strip()
        assert rebuilt == " ".join(t.lower().split())


# ---------------------------------------------------------------------------
# drift monitoring: PSI
# ---------------------------------------------------------------------------


def py_psi(ref, cur, n_buckets=10, eps=1e-6):
    lo, hi = min(ref), max(ref)
    w = (hi - lo) / n_buckets if hi > lo else 1.0
    import math

    def shares(vals):
        counts = [0] * n_buckets
        for v in vals:
            b = min(max(int(math.floor((v - lo) / w)), 0), n_buckets - 1)
            counts[b] += 1
        return [c / len(vals) for c in counts]

    pr, pc = shares(ref), shares(cur)
    return round(
        sum((c + eps - (r + eps)) * math.log((c + eps) / (r + eps))
            for r, c in zip(pr, pc)),
        6,
    )


def test_psi_drift_matches_python(spark):
    from graphdb_neo4j_spark.operators.drift import psi_drift

    ref_vals = [float(i % 50) for i in range(1000)]          # uniform 0..49
    same_vals = [float((i * 7) % 50) for i in range(800)]    # same distribution
    drifted = [float(i % 20) + 30.0 for i in range(800)]     # mass shifted right

    ref = spark.createDataFrame([(v,) for v in ref_vals], ["value"])
    same = spark.createDataFrame([(v,) for v in same_vals], ["value"])
    drift = spark.createDataFrame([(v,) for v in drifted], ["value"])

    psi_same = psi_drift(ref, same, "value").head()["psi"]
    psi_drifted = psi_drift(ref, drift, "value").head()["psi"]
    assert psi_same == py_psi(ref_vals, same_vals)
    assert psi_drifted == py_psi(ref_vals, drifted)
    # sensitivity: identical distribution ≈ 0, shifted mass >> 0.25
    assert psi_same < 0.01 < 0.25 < psi_drifted


def test_streaming_drift_matches_batch(spark, tmp_path):
    """Per-batch streaming PSI is bit-identical to batch psi_drift on
    each batch's rows, and the timeline flags the drifted batch."""
    from graphdb_neo4j_spark.operators.drift import psi_drift
    from graphdb_neo4j_spark.streaming.drift import drift_timeline, streaming_drift

    ref_vals = [float(i % 50) for i in range(1000)]
    batches = [
        [float((i * 3) % 50) for i in range(500)],   # in-distribution
        [float(i % 10) + 40.0 for i in range(500)],  # drifted
    ]
    ref = spark.createDataFrame([(v,) for v in ref_vals], ["value"])
    src = tmp_path / "vals"
    src.mkdir()
    for i, vals in enumerate(batches):
        spark.createDataFrame([(v,) for v in vals], ["value"]).coalesce(
            1
        ).write.mode("overwrite").parquet(str(src / f"b{i}"))
    stream = spark.readStream.schema("value double").option(
        "maxFilesPerTrigger", "1"
    ).parquet(str(src / "b*"))
    state = str(tmp_path / "drift_state")
    q = streaming_drift(stream, ref, "value", state).trigger(
        availableNow=True
    ).start()
    q.awaitTermination(300)

    timeline = {r.batch_id: r.psi for r in drift_timeline(spark, state).collect()}
    assert len(timeline) == 2
    want = [
        psi_drift(
            ref, spark.createDataFrame([(v,) for v in vals], ["value"]), "value"
        ).head()["psi"]
        for vals in batches
    ]
    assert sorted(timeline.values()) == sorted(want)
    assert max(timeline.values()) > 0.25 > min(timeline.values())


# --------------------------------------------------------------------------
# hash-sample quantile sketch (round 3: mergeable bottom-k sample)
# --------------------------------------------------------------------------

def test_hash_sample_quantiles_exact_when_k_covers_all(spark):
    from graphdb_neo4j_spark.operators.sketch import hash_sample_quantiles

    # k >= n: the "sample" is the whole dataset, so quantiles are exact
    # order statistics at the pinned integer positions
    df = spark.range(1, 101).select(
        F.col("id").alias("k"), (F.col("id") * 10).cast("double").alias("v")
    )
    out = hash_sample_quantiles(df, ["k"], "v", k=100, quantiles=[0.5, 0.9])
    got = {r.q: r.value for r in out.collect()}
    assert got == {0.5: 500.0, 0.9: 900.0}


def test_hash_sample_quantiles_mergeable(spark):
    """bottom-k(union) == bottom-k(bottom-k(A) ∪ bottom-k(B)): sharded
    sketches merged by union+re-trim are bit-identical to the sketch of
    the concatenated data — the KLL/GK mergeability contract."""
    from graphdb_neo4j_spark.operators.sketch import hash_sample_quantiles

    df = spark.range(1, 2001).select(
        F.col("id").alias("k"), F.pmod(F.col("id") * 7919, F.lit(9973)).cast("double").alias("v")
    )
    whole = hash_sample_quantiles(df, ["k"], "v", k=200)
    a = df.filter(F.col("k") <= 1000)
    b = df.filter(F.col("k") > 1000)
    # per-shard bottom-k SAMPLES (pre-quantile state), merged and re-trimmed
    h = F.md5(F.concat_ws("-", F.col("k").cast("string")))
    sample = lambda d: d.select(F.col("v"), h.alias("h")).orderBy("h").limit(200)
    merged = sample(a).unionAll(sample(b)).orderBy("h").limit(200)
    from pyspark.sql import Window

    w = Window.orderBy("v", "h")
    ranked = merged.select("v", F.row_number().over(w).alias("rn"))
    from graphdb_neo4j_spark.operators.sketch import quantile_positions

    pos = spark.createDataFrame(
        quantile_positions(200, [0.25, 0.5, 0.75, 0.9, 0.99]), "q double, rn int"
    )
    remerged = ranked.join(F.broadcast(pos), "rn").select("q", F.col("v").alias("value"))
    assert sorted(map(tuple, whole.collect())) == sorted(map(tuple, remerged.collect()))


def test_hash_sample_quantile_positions_pin_decimal_ambiguity():
    from graphdb_neo4j_spark.operators.sketch import quantile_positions

    # 0.9*1000 is 900.0000000000001 in IEEE double: position must be the
    # ROUND-corrected 900, not ceil's 901 (and DuckDB's decimal 0.9*1000
    # = 900 exactly — the helper pins both engines to one answer)
    assert quantile_positions(1000, [0.9]) == [(0.9, 900)]
    assert quantile_positions(1000, [0.25, 0.999]) == [(0.25, 250), (0.999, 999)]
    # clamped into [1, k]
    assert quantile_positions(10, [0.0, 1.0]) == [(0.0, 1), (1.0, 10)]


def test_bloom_no_false_negatives_and_mergeable(spark):
    """Every inserted key probes maybe-present; the union-then-rebuild
    merge equals building over the union (BIT_OR associativity)."""
    from pyspark.sql import functions as F

    from graphdb_neo4j_spark.operators.sketch import bloom_build, bloom_probe

    a = spark.createDataFrame([(i,) for i in range(200)], ["k"])
    b = spark.createDataFrame([(i,) for i in range(150, 400)], ["k"])
    built_union = bloom_build(a.unionByName(b), "k")
    merged = (
        bloom_build(a, "k").unionByName(bloom_build(b, "k"))
        .groupBy("word_idx")
        .agg(F.bit_or("word").alias("word"))
    )
    assert sorted(map(tuple, built_union.collect())) == sorted(
        map(tuple, merged.collect())
    )
    probe = bloom_probe(a.unionByName(b), built_union, "k")
    assert all(r.maybe_present for r in probe.collect())


def test_hll_rolling_equals_direct_window_sketch(spark):
    """Rolling register merge == sketching each trailing window's raw
    rows directly (HLL merge losslessness), for every output hour."""
    import random

    from pyspark.sql import functions as F

    from graphdb_neo4j_spark.operators.sketch import (
        hll_distinct,
        hll_rolling_distinct,
    )

    rng = random.Random(3)
    rows = [(rng.randint(0, 5), f"u{rng.randint(0, 300)}") for _ in range(2000)]
    df = spark.createDataFrame(rows, ["hour", "uid"])
    rolled = {
        r.hour: (r.n_buckets, r.harmonic_num, r.est_distinct)
        for r in hll_rolling_distinct(df, "hour", "uid", window_hours=3).collect()
    }
    for h in sorted(rolled):
        window = df.filter((F.col("hour") >= h - 2) & (F.col("hour") <= h))
        direct = hll_distinct(window, "uid").collect()[0]
        assert rolled[h] == (
            direct.n_buckets, direct.harmonic_num, direct.est_distinct
        ), h


def test_neighbor_sample_fanout_determinism_and_oracle(spark):
    """neighbor_sample == an independent Python replay of the md5 rank;
    fanout is a hard cap; a vertex's sample is insensitive to unrelated
    edges (stability property the docstring promises)."""
    import hashlib

    from graphdb_neo4j_spark.operators.sampling import neighbor_sample

    edges = [(f"u{i % 5}", f"v{j}") for i in range(5) for j in range(12)] + [
        ("u0", "v3"),  # duplicate edge must not double-sample
        ("lone", "v1"),
    ]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        (r.src, r.dst, r["rank"])
        for r in neighbor_sample(df, fanout=4, seed="t").collect()
    }

    adj: dict[str, set[str]] = {}
    for s, d in edges:
        adj.setdefault(s, set()).add(d)
    want = set()
    for s, ds in adj.items():
        ranked = sorted(
            ds, key=lambda d: (hashlib.md5(f"t|{s}:{d}".encode()).hexdigest(), d)
        )
        for i, d in enumerate(ranked[:4]):
            want.add((s, d, i + 1))
    assert got == want
    # per-source cap and the lone low-degree vertex keeps its full set
    assert all(r <= 4 for _, _, r in got)
    assert ("lone", "v1", 1) in got
    # stability: adding edges for OTHER sources never changes u0's pick
    df2 = spark.createDataFrame(edges + [("u9", "v9")], ["src", "dst"])
    got2 = {
        (r.src, r.dst, r["rank"])
        for r in neighbor_sample(df2, fanout=4, seed="t").collect()
        if r.src == "u0"
    }
    assert got2 == {t for t in want if t[0] == "u0"}


def test_scalar_quantize_reconstruction_error_bounded(spark):
    """Dequantized values land within half a quantization step of the
    original per dim; constant dims quantize to 0."""
    from graphdb_neo4j_spark.operators.embed import scalar_quantize

    rows = [
        (1, [0.0, 5.0, 1.5]),
        (2, [1.0, 5.0, -2.5]),
        (3, [0.25, 5.0, 0.0]),
        (4, [0.75, 5.0, 4.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r.vec_id: list(r.qvec) for r in scalar_quantize(df).collect()}
    mins = [0.0, 5.0, -2.5]
    maxs = [1.0, 5.0, 4.0]
    for vid, vec in rows:
        q = got[vid]
        for i, x in enumerate(vec):
            if maxs[i] == mins[i]:
                assert q[i] == 0
                continue
            assert 0 <= q[i] <= 255
            step = (maxs[i] - mins[i]) / 255.0
            deq = mins[i] + q[i] * step
            assert abs(deq - x) <= step / 2 + 1e-9, (vid, i)


def test_curation_pipeline_stage_order_and_neardup(spark):
    """Planted corpus: each doc is dropped by exactly the FIRST stage
    that applies (quality ≺ exact_dup ≺ near_dup ≺ contaminated), and
    survivors get split + train bins."""
    from graphdb_neo4j_spark.pipeline import curate

    good = (
        "the quick brown fox jumps over the lazy dog and then it "
        "runs far away into the green hills with a happy friend"
    )
    near = good + " extra trailing words here"
    rows = [
        (1, good),                      # keeper of the near-dup cluster
        (2, good),                      # exact dup of 1
        (3, near),                      # near dup of 1 (high jaccard)
        (4, "zz"),                      # quality: too short
        (5, "a small boat drifted down the wide river while the crew "
            "watched clouds gather slowly over the distant shore"),  # clean
        # contaminated vs eval 7 — distinct text, shares its 3-grams
        (6, "some totally different benchmark question about the rivers "
            "and mountains of a country that models never have seen"),
    ]
    ev = [(7, "an unrelated preamble then some totally different "
              "benchmark question about the rivers and mountains of "
              "a country appears")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    evdf = spark.createDataFrame(ev, "doc_id long, text string")
    res = curate(
        docs, evdf, neardup=True,
        neardup_kwargs={"jaccard_threshold": 0.5},
        seq_budget=30,
    )
    lab = {r.doc_id: r for r in res.labeled.collect()}
    assert len(lab) == 6
    assert lab[4].drop_stage == "quality"
    assert lab[2].drop_stage == "exact_dup"
    assert lab[3].drop_stage == "near_dup"
    assert lab[6].drop_stage == "contaminated"
    assert lab[1].drop_stage is None and lab[1].split is not None
    assert lab[5].drop_stage is None
    # train docs get monotone bins in doc_id order
    train = [r for r in lab.values() if r.split == "train"]
    bins = [r.bin for r in sorted(train, key=lambda r: r.doc_id)]
    assert bins == sorted(bins) and all(b is not None for b in bins)
    rep = {r.stage: r.n_docs for r in res.report.collect()}
    assert rep["quality"] == 1 and rep["exact_dup"] == 1
    assert rep["near_dup"] == 1 and rep["contaminated"] == 1
    assert sum(v for k, v in rep.items() if k.startswith("kept_")) == 2


def test_curation_pipeline_string_ids_neardup(spark):
    """neardup=True with string doc ids: keeper ids must round-trip the
    string→string cast (regression: a hardcoded cast('long') nulled every
    keeper and the whole surviving corpus was dropped as near_dup)."""
    from graphdb_neo4j_spark.pipeline import curate

    good = (
        "the quick brown fox jumps over the lazy dog and then it "
        "runs far away into the green hills with a happy friend"
    )
    rows = [
        ("doc-a", good),
        ("doc-b", good + " extra trailing words here"),   # near dup of doc-a
        ("doc-c", "a small boat drifted down the wide river while the "
                  "crew watched clouds gather slowly over the shore"),
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    res = curate(docs, neardup=True,
                 neardup_kwargs={"jaccard_threshold": 0.5}, seq_budget=64)
    lab = {r.doc_id: r for r in res.labeled.collect()}
    assert len(lab) == 3
    # exactly one of the near-dup pair is dropped; the keeper and the
    # unrelated doc survive to the split stage
    stages = {k: v.drop_stage for k, v in lab.items()}
    assert stages["doc-c"] is None
    pair = {stages["doc-a"], stages["doc-b"]}
    assert pair == {None, "near_dup"}


def test_ntile_repeated_runs_release_checkpoints(spark):
    """q70 consumes the row-level index internally: a loop of runs
    leaves only the 10-row result checkpoints alive, never the
    full-size range-partitioned intermediates."""
    import graphdb_neo4j_spark.workloads as W

    sf = "/root/testdata/sf0.001"
    jsc = spark.sparkContext._jsc.sc()
    before = {i.id() for i in jsc.getRDDStorageInfo()}
    for _ in range(3):
        W.QUERY_FNS["q70_equidepth_histogram"](spark, sf).collect()
    # only blocks THIS loop created count — a shared test session may
    # hold unrelated caches from other modules
    infos = [i for i in jsc.getRDDStorageInfo() if i.id() not in before]
    for i in infos:
        assert i.memSize() + i.diskSize() < 64 * 1024, (
            str(i.name()), i.memSize(), i.diskSize()
        )


def test_checkpoint_handle_release_is_fail_loud(spark):
    from graphdb_neo4j_spark.operators.order import contiguous_index

    df = spark.range(10000).selectExpr("id", "id % 7 as v")
    indexed, handle = contiguous_index(df, ["v", "id"])
    assert indexed.count() == 10000
    handle.release()
    jsc = spark.sparkContext._jsc.sc()
    assert all(
        i.id() not in handle._rdd_ids for i in jsc.getRDDStorageInfo()
    )
    handle.release()  # idempotent


def test_histogram_quantiles_error_bound(spark):
    """Every estimate is within one bin width of the exact quantile
    value, and the median of uniform integers lands in the right bin."""
    import random

    from graphdb_neo4j_spark.operators.sketch import histogram_quantiles

    rnd = random.Random(7)
    rows = [("g%d" % (i % 3), rnd.uniform(0, 100)) for i in range(3000)]
    df = spark.createDataFrame(rows, "grp string, value double")
    est = {
        (r.grp, r.q_micro): r.est_micro
        for r in histogram_quantiles(df, "grp", "value").collect()
    }
    by_grp = {}
    for g, v in rows:
        by_grp.setdefault(g, []).append(v)
    for (g, qm), e in est.items():
        vals = sorted(by_grp[g])
        n = len(vals)
        rank = -(-qm * n // 1_000_000)  # ceil
        exact = vals[min(rank, n) - 1] * 1_000_000
        width = (max(vals) - min(vals)) * 1_000_000 / 256
        assert abs(e - exact) <= width + 1, (g, qm, e, exact, width)


def test_histogram_quantiles_constant_group(spark):
    """A group where every value is identical hits the mx == mn guard:
    all quantiles return that value exactly."""
    from graphdb_neo4j_spark.operators.sketch import histogram_quantiles

    df = spark.createDataFrame(
        [("a", 5.0)] * 10, "grp string, value double"
    )
    rows = histogram_quantiles(df, "grp", "value").collect()
    assert len(rows) == 5
    assert all(r.est_micro == 5_000_000 for r in rows)


def test_histogram_quantiles_counts_merge(spark):
    """Mergeability contract: on a SHARED (mn, mx) grid, per-(group,
    bin) counts of disjoint shards sum to the counts of the union —
    so shard/day/batch histograms combine without error drift."""
    from pyspark.sql import functions as F

    rows = [("g", float(i % 97)) for i in range(1000)]
    full = spark.createDataFrame(rows, "grp string, value double")
    mn, mx = 0, 96_000_000  # the union's micro-unit grid
    def bins(df):
        bin_expr = (
            f"(cast(round(value * 1000000) as bigint) - {mn}) * 256"
            f" div ({mx} - {mn} + 1)"
        )
        return {
            r.bin: r.cnt
            for r in df.select(F.expr(bin_expr).alias("bin"))
            .groupBy("bin")
            .agg(F.count("*").alias("cnt"))
            .collect()
        }
    lo = bins(full.filter(F.col("value") < 50))
    hi = bins(full.filter(F.col("value") >= 50))
    merged = {b: lo.get(b, 0) + hi.get(b, 0) for b in set(lo) | set(hi)}
    assert merged == bins(full)


def test_curate_pii_collapses_redacted_duplicates(spark):
    """pii=True scrubs BEFORE hashing: two docs identical up to their
    (different) embedded e-mails become exact duplicates after
    redaction; the verdict frame carries per-doc match counts."""
    from graphdb_neo4j_spark.pipeline import curate

    body = ("a small boat drifted down the wide river while the crew "
            "watched clouds gather slowly over the distant shore")
    rows = [
        (1, body + " contact alice@example.com now"),
        (2, body + " contact bob@other.org now"),   # dup after scrub
        (3, body + " no personal data here at all"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    res = curate(docs, pii=True)
    lab = {r.doc_id: r for r in res.labeled.collect()}
    assert lab[2].drop_stage == "exact_dup"
    assert lab[1].drop_stage is None
    assert lab[1].n_pii == 1 and lab[2].n_pii == 1 and lab[3].n_pii == 0


def test_ntile_distributed_hypothesis_matches_sql_ntile(spark):
    """Property: distributed NTILE(k) == the single-partition SQL
    NTILE(k) for random sizes, duplicate keys, and k ∈ [1, n+2] —
    including k > n (every row its own bucket, sizes clamp to 1)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st
    from pyspark.sql import Window

    from graphdb_neo4j_spark.operators.order import ntile_distributed

    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(
        vals=st.lists(st.integers(0, 9), min_size=1, max_size=40),
        k=st.integers(1, 12),
    )
    def check(vals, k):
        df = spark.createDataFrame(
            [(v, i) for i, v in enumerate(vals)], "v int, id int"
        )
        tiled, th = ntile_distributed(df, ["v", "id"], k=k, out_col="b")
        got = {(r.id, r.b) for r in tiled.collect()}
        th.release()
        w = Window.orderBy("v", "id")
        want = {
            (r.id, r.b)
            for r in df.select(
                "id", F.ntile(k).over(w).alias("b")
            ).collect()
        }
        assert got == want

    check()


def test_prefix_sum_distributed_hypothesis_matches_window(spark):
    """Property: the range-partitioned prefix sum equals the
    single-partition SQL running total on random values (negatives,
    zeros, duplicate order keys broken by id)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st
    from pyspark.sql import Window

    from graphdb_neo4j_spark.operators.order import prefix_sum_distributed

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(vals=st.lists(st.integers(-50, 50), min_size=1, max_size=40))
    def check(vals):
        df = spark.createDataFrame(
            [(v, i) for i, v in enumerate(vals)], "v long, id int"
        )
        got_df, handle = prefix_sum_distributed(
            df, ["v", "id"], "v", out_col="cum"
        )
        got = {(r.id, r.cum) for r in got_df.collect()}
        handle.release()
        w = Window.orderBy("v", "id").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        want = {
            (r.id, r.cum)
            for r in df.select("id", F.sum("v").over(w).alias("cum")).collect()
        }
        assert got == want

    check()


def test_q209_releases_prefix_checkpoint(spark):
    """ABC classification consumes in-query: repeated runs leave only
    the 3-cell result blocks."""
    from graphdb_neo4j_spark.workloads import QUERY_FNS as Q

    jsc = spark.sparkContext._jsc.sc()
    before = {i.id() for i in jsc.getRDDStorageInfo()}
    for _ in range(2):
        Q["q209_abc_classification"](spark, "/root/testdata/sf0.001").collect()
    infos = [i for i in jsc.getRDDStorageInfo() if i.id() not in before]
    for i in infos:
        assert i.memSize() + i.diskSize() < 64 * 1024, (
            str(i.name()), i.memSize(), i.diskSize()
        )


def test_q225_q226_release_image_checkpoints(spark):
    """r9 verdict item #4, the q209-style release-discipline gate for
    the image flagships: repeated q225/q226 runs must leave only tiny
    result blocks — the hash frame and LSH band explode are released
    via their handles (order.materialize + hamming_neardup_pairs'
    handle), never accumulated across driver/bench loops."""
    from graphdb_neo4j_spark.workloads import QUERY_FNS as Q

    jsc = spark.sparkContext._jsc.sc()
    before = {i.id() for i in jsc.getRDDStorageInfo()}
    for _ in range(2):
        Q["q225_image_phash_neardup"](spark, "/root/testdata/sf0.001").collect()
        Q["q226_image_neardup_clusters"](spark, "/root/testdata/sf0.001").collect()
    infos = [i for i in jsc.getRDDStorageInfo() if i.id() not in before]
    for i in infos:
        assert i.memSize() + i.diskSize() < 64 * 1024, (
            str(i.name()), i.memSize(), i.diskSize()
        )


def test_hamming_pairs_handle_releases_blocks_and_fails_loud(spark):
    """The ADVICE-r9 handle contract, mechanically: release() drops
    exactly the LSH explode's checkpoint blocks from the store, and a
    post-release action fails loudly instead of silently recomputing
    (the order.materialize contract)."""
    import pytest as _pytest

    from graphdb_neo4j_spark.operators.dedup import hamming_neardup_pairs

    df = spark.range(200).selectExpr(
        "id as doc_id", "cast(hash(id) as bigint) * 2048 as h"
    )
    pairs, handle = hamming_neardup_pairs(df, id_col="doc_id", hash_col="h")
    pairs.count()
    jsc = spark.sparkContext._jsc.sc()
    stored = {i.id() for i in jsc.getRDDStorageInfo()}
    assert handle._rdd_ids and handle._rdd_ids <= stored
    handle.release()
    stored_after = {i.id() for i in jsc.getRDDStorageInfo()}
    assert not (handle._rdd_ids & stored_after)
    with _pytest.raises(Exception):
        pairs.count()


def test_group_contiguous_index_matches_group_window(spark):
    """order.group_contiguous_index ≡ row_number() OVER (PARTITION BY
    group ORDER BY order_cols) - 1, on a deliberately SKEWED frame
    (one group holds ~80% of rows, so it spans multiple range
    partitions — the exact shape the per-group index exists for)."""
    import random

    from graphdb_neo4j_spark.operators.order import group_contiguous_index

    rnd = random.Random(11)
    rows = [
        (
            "g0" if rnd.random() < 0.8 else "g%d" % rnd.randrange(1, 5),
            rnd.randrange(10_000),
            i,
        )
        for i in range(4000)
    ]
    # NULL is a legitimate group (the hostless-URL class): a plain
    # equi-join back to the offsets frame would silently DROP these
    # rows — pinned here (self-review r9)
    rows += [(None, rnd.randrange(10_000), i) for i in range(4000, 4050)]
    df = spark.createDataFrame(rows, "g string, v long, id long").repartition(16)
    out, handle = group_contiguous_index(df, ["g"], ["v", "id"], out_col="seq")
    got = {(r.g, r.v, r.id): r.seq for r in out.collect()}
    handle.release()
    by_g = {}
    for g, v, i in rows:
        by_g.setdefault(g, []).append((v, i))
    want = {}
    for g, vs in by_g.items():
        for k, (v, i) in enumerate(sorted(vs)):
            want[(g, v, i)] = k
    assert got == want


def test_group_argmin_matches_window_first_row(spark):
    """order.group_argmin ≡ the row row_number() OVER (PARTITION BY g
    ORDER BY k...) = 1 would pick, on a skewed frame with a NULL group
    and NULL order values (NULLS FIRST, the window's default), column
    order and schema preserved."""
    import random

    from graphdb_neo4j_spark.operators.order import group_argmin

    rnd = random.Random(7)
    rows = [
        (
            None if i >= 3950 else
            ("hub" if rnd.random() < 0.8 else "g%d" % rnd.randrange(1, 5)),
            None if rnd.random() < 0.01 else rnd.randrange(10_000),
            i,
            "payload-%d" % i,
        )
        for i in range(4000)
    ]
    df = spark.createDataFrame(
        rows, "g string, k long, id long, extra string"
    ).repartition(16)
    out = group_argmin(df, ["g"], ["k", "id"])
    assert out.columns == df.columns
    got = {r.g: (r.k, r.id, r.extra) for r in out.collect()}
    want = {}
    for g, k, i, x in rows:
        key = (k is not None, k if k is not None else 0, i)  # NULLS FIRST
        if g not in want or key < want[g][0]:
            want[g] = (key, (k, i, x))
    assert got == {g: v for g, (_, v) in want.items()}


def test_group_prefix_sum_matches_group_window(spark):
    """order.group_prefix_sum_distributed ≡ SUM() OVER (PARTITION BY
    group ORDER BY order ROWS UNBOUNDED PRECEDING..CURRENT) on a
    skewed frame with a NULL group, and pack_sequences' deskewed
    grouped path assigns the SAME bins as its windowed path."""
    import random

    from graphdb_neo4j_spark.operators.order import (
        group_prefix_sum_distributed,
    )
    from graphdb_neo4j_spark.operators.sampling import pack_sequences

    rnd = random.Random(23)
    rows = [
        (
            None if i >= 2950 else
            ("g0" if rnd.random() < 0.8 else "g%d" % rnd.randrange(1, 4)),
            i,
            rnd.randrange(1, 500),
        )
        for i in range(3000)
    ]
    df = spark.createDataFrame(rows, "g string, id long, v long").repartition(16)
    out, handle = group_prefix_sum_distributed(df, ["g"], ["id"], "v", out_col="cum")
    got = {(r.g, r.id): r.cum for r in out.collect()}
    handle.release()
    by_g = {}
    for g, i, v in rows:
        by_g.setdefault(g, []).append((i, v))
    want = {}
    for g, vs in by_g.items():
        run = 0
        for i, v in sorted(vs):
            run += v
            want[(g, i)] = run
    assert got == want
    # pack_sequences: deskewed grouped bins (the r10 DEFAULT) ==
    # windowed grouped bins (the bounded-groups fast path, opt-in)
    packed_w, h_w = pack_sequences(
        df, budget=1000, token_col="v", order_col="id", by_col="g",
        deskew_groups=False,
    )
    packed_d, h_d = pack_sequences(
        df, budget=1000, token_col="v", order_col="id", by_col="g",
    )
    wbins = {(r.g, r.id): r.bin for r in packed_w.collect()}
    dbins = {(r.g, r.id): r.bin for r in packed_d.collect()}
    h_d.release()
    assert h_w is None and wbins == dbins
