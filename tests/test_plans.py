"""Physical-plan property tests: the shapes the 100 TB story depends
on must survive refactors — broadcast joins stay broadcast, parquet
scans prune columns and push filters, the encode path shuffles exactly
once. A correct result through a regressed plan is a silent scale bug;
these tests make the plan part of the contract.
"""

from __future__ import annotations

import re

import os

import pytest

SF = os.environ.get("SPARK_GRAFT_SF_DIR_SMALL", "/root/testdata/sf0.001")
pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF),
    reason=f"test data dir {SF} absent (set SPARK_GRAFT_SF_DIR_SMALL)")


def _plan(df) -> str:
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted")
    return df._jdf.queryExecution().explainString(mode)


def _query(name):
    # rotation-proof lookup: the driver/EXTRA split changes per round
    from gorillaspark.queries import EXTRA_QUERIES, QUERIES
    return QUERIES.get(name) or EXTRA_QUERIES[name]


def test_top_customers_broadcasts_dims(spark):
    plan = _plan(_query("top_customers")(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_doc_stats_prunes_columns(spark):
    plan = _plan(_query("doc_stats")(spark, SF))
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    # quality/token stats need doc_id + text only; reading lang/source/
    # n_chars too would scan extra bytes per row at corpus scale
    assert cols == {"doc_id", "text"}, cols


def test_event_filter_pushdown(spark):
    from pyspark.sql import functions as F
    ev = spark.read.parquet(f"{SF}/events.parquet")
    plan = _plan(ev.where(F.col("event_type") == "error")
                 .select("user_id", "ts"))
    assert re.search(r"PushedFilters: \[.*EqualTo\(event_type,error\)",
                     plan), plan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert cols == {"user_id", "ts", "event_type"}, cols


def test_encode_points_shuffles_once(spark):
    from gorillaspark.operators.encode import encode_points
    from gorillaspark.queries import _event_points
    plan = _plan(encode_points(_event_points(spark, SF), "double"))
    # one Exchange: the repartition that co-locates each series' days;
    # a second one would mean the sort or the UDF re-shuffled
    n_exchange = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchange == 1, f"{n_exchange} exchanges:\n{plan}"
    # the repartition names no partition count, so AQE may coalesce
    # it to the data's size; a pinned count (REPARTITION_BY_NUM) fans
    # a small input out to one Python task per shuffle partition
    assert "REPARTITION_BY_COL" in plan, plan
    assert "REPARTITION_BY_NUM" not in plan, plan


def test_rollup_whole_stage_codegen(spark):
    from gorillaspark.operators.downsample import m4_downsample
    from gorillaspark.queries import _event_points
    plan = _plan(m4_downsample(_event_points(spark, SF), "1h"))
    # M4 must stay a codegen hash aggregate (min/max/min_by/max_by are
    # all codegen-able); falling to ObjectHashAggregate would mean an
    # accidental non-codegen aggregate snuck into the hot path
    assert "HashAggregate" in plan
    assert "ObjectHashAggregate" not in plan


def test_ann_bruteforce_streams_corpus(spark):
    plan = _plan(_query("ann_topk")(spark, SF))
    # r9: the corpus streams through one mapInArrow scoring pass
    # (queries ride the task closure); no join, no shuffle of corpus
    # vectors — the only exchange belongs to the nq*k*n_tasks-row
    # ranking window
    assert "MapInArrow" in plan, plan
    assert "Join" not in plan, plan
    n_exchange = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchange == 1, f"{n_exchange} exchanges:\n{plan}"


def test_bucketed_interval_join_is_equi_join(spark):
    from gorillaspark.operators.asof import bucketed_interval_join
    spans = spark.createDataFrame(
        [(0, 0, 5000)], "sid long, start_ms long, end_ms long")
    pts = spark.createDataFrame([(1, 100)], "pid long, ts_ms long")
    plan = _plan(bucketed_interval_join(spans, pts, bucket_ms=1000))
    # the whole point of bucketing: a hash-partitioned equi-join on the
    # bucket id, never a nested-loop over the range predicate
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan \
        or "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_global_topk_avoids_full_sort(spark):
    plan = _plan(_query("global_top_events")(spark, SF))
    # per-partition top-k + merge; a global Sort would shuffle
    # everything to sort rows the LIMIT then throws away
    assert "TakeOrderedAndProject" in plan, plan


def test_sketch_cascade_quantile_reuses_partitioning(spark):
    """The sketch cascade's explicit (series, coarse-bucket)
    repartition must be reused by the quantile window: exactly two
    exchanges end-to-end (fine-tier aggregate + cascade), none for
    the window sort."""
    from pyspark.sql import functions as F

    from gorillaspark.operators.sketch import (
        dd_sketch_cascade,
        dd_sketch_quantile,
        dd_sketch_tier,
    )
    pts = spark.read.parquet(f"{SF}/events.parquet").select(
        F.col("user_id").cast("string").alias("series_key"),
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"),
        F.col("value").cast("double").alias("value"))
    plan = _plan(dd_sketch_quantile(
        dd_sketch_cascade(dd_sketch_tier(pts, "1m"), "1d")))
    n_exchange = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchange == 2, f"{n_exchange} exchanges:\n{plan}"


def test_ivf_assignment_corpus_side_exchange_free(spark):
    """r5 verdict #1: IVF/IVF-PQ cell assignment must be an inline
    argmax over the literal centroid array — NOT a broadcast
    cross-join + row_number() window, which shuffled and sorted
    corpus x n_centroids rows for a computation with no cross-row
    dependency. Contract: the corpus->cell assignment plan contains
    no shuffle Exchange and no Window at all."""
    import numpy as np
    from pyspark.sql import functions as F

    from gorillaspark.operators.similarity import (
        _cell_scores,
        _collect_cell_codebook,
        with_unit_norm,
    )

    rng = np.random.default_rng(2)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(0, 1, 16)])
         for i in range(64)], "vec_id long, embedding array<double>")
    normed = with_unit_norm(emb, "embedding")
    ids, units = _collect_cell_codebook(normed, 8, "vec_id")
    assigned = normed.select(
        F.col("vec_id").alias("nbr_id"),
        F.array_min(_cell_scores("unit", ids, units))
        .getField("cell").alias("cell"))
    plan = _plan(assigned)
    assert "Exchange" not in plan, plan
    assert "Window" not in plan, plan
    # PQ code assignment: same contract (was corpus x n_sub x n_codes
    # through a window)
    from gorillaspark.operators.similarity import pq_codes_fixed_codebook
    codes = pq_codes_fixed_codebook(emb, n_sub=4, n_codes=8, dim=16)
    cplan = _plan(codes)
    assert "Window" not in cplan, cplan
    assert "ShuffledHashJoin" not in cplan and \
        "SortMergeJoin" not in cplan, cplan
    n_exchange = len(re.findall(r"\(\d+\) Exchange", cplan))
    assert n_exchange == 0, f"{n_exchange} exchanges:\n{cplan}"


def test_ivfpq_arrow_indexer_exchange_free(spark):
    """The shipped corpus indexer (r6: one mapInArrow pass producing
    vid/cell/packed) must stay exchange-free — no join inflation, no
    window, and no codes->packed groupBy."""
    import numpy as np

    from gorillaspark.operators.similarity import (
        _collect_cell_codebook,
        _ivf_index_arrow,
        with_unit_norm,
    )

    rng = np.random.default_rng(3)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(0, 1, 16)])
         for i in range(64)], "vec_id long, embedding array<double>")
    ids, units = _collect_cell_codebook(
        with_unit_norm(emb, "embedding"), 8, "vec_id")
    cw = [[units[c][m * 4:(m + 1) * 4] for c in range(8)]
          for m in range(4)]
    idx = _ivf_index_arrow(emb, ids, units, "embedding", "vec_id",
                           cw_subs=cw, n_bits=3)
    plan = _plan(idx)
    assert "MapInArrow" in plan, plan
    # r7: a single RoundRobinPartitioning exchange is permitted — the
    # spread() widening for under-parallel local inputs (no-op at
    # scale). The contract this test guards is unchanged: no join
    # inflation, no window, no key-hash shuffle of corpus rows.
    for m in re.finditer(r"Exchange (\w+)", plan):
        assert m.group(1) == "RoundRobinPartitioning", plan
    assert "Window" not in plan, plan
    assert "Join" not in plan, plan


def test_near_dup_verify_is_segmented_map_in_arrow(spark):
    """r7: the near-dup bucket verify is ONE hash exchange on
    (band, code) + an in-partition sort + a segmented mapInArrow
    kernel (+ the output distinct's own exchange) — NOT a per-bucket
    applyInPandas, whose one-pandas-DataFrame-per-group overhead
    dominated wall time 20x once bits-per-band scaled with the
    corpus (the 100 TB regime: tens of thousands of buckets).
    r9: parameters here force the sparse/banded path (2^(r-1) > B);
    dense parameterizations route to the block scan, tested below."""
    import numpy as np

    from gorillaspark.operators.similarity import embedding_near_dup_pairs

    rng = np.random.default_rng(4)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(0, 1, 16)])
         for i in range(64)], "vec_id long, embedding array<double>")
    plan = _plan(embedding_near_dup_pairs(emb, threshold=0.9,
                                          n_planes=64, n_bands=4))
    assert "MapInArrow" in plan, plan
    assert "FlatMapGroupsInPandas" not in plan, plan
    assert "Window" not in plan, plan
    # exactly one exchange below the verify (hash on band, code); the
    # only other exchange belongs to the final distinct on pairs
    n_exchange = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchange == 2, f"{n_exchange} exchanges:\n{plan}"
    assert re.search(r"hashpartitioning\(band#\d+, code#\d+", plan), plan


def test_near_dup_dense_block_scan_plan_and_equality(spark):
    """r9: dense LSH parameterizations (n_bands >= 2^(r-1), e.g. the
    bench's 64-plane/32-band low-τ setting) route to the all-pairs
    block scan: ONE hash exchange on the block-pair id, a segmented
    mapInArrow kernel, no distinct (every unordered pair lands in
    exactly one block-pair), and NO join/window. The result set and
    rounded cosines must equal the banded path's byte for byte."""
    import numpy as np

    from gorillaspark.operators.similarity import embedding_near_dup_pairs

    rng = np.random.default_rng(11)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(0, 1, 16)])
         for i in range(96)], "vec_id long, embedding array<double>")
    dense = embedding_near_dup_pairs(emb, threshold=0.3)
    plan = _plan(dense)
    assert "MapInArrow" in plan, plan
    assert "Join" not in plan and "Window" not in plan, plan
    n_exchange = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchange == 1, f"{n_exchange} exchanges:\n{plan}"
    assert re.search(r"hashpartitioning\(bp#\d+", plan), plan
    # value check against a brute-force reference: all pairs sharing
    # >= 1 band code (the recall semantics of the banded union) with
    # cosine >= tau
    got = sorted(map(tuple, dense.collect()))
    pdf = emb.toPandas()
    M = np.stack(pdf["embedding"].map(np.asarray))
    U = M / np.sqrt((M * M).sum(axis=1))[:, None]
    rng2 = np.random.default_rng(5)
    planes = rng2.normal(size=(64, 16)).astype(np.float64)
    bits = (M @ planes.T) > 0
    codes = bits.reshape(len(M), 32, 2).astype(np.int64) @ (
        1 << np.arange(2, dtype=np.int64))
    ids = pdf["vec_id"].to_numpy()
    want = []
    for i in range(len(M)):
        for j in range(i + 1, len(M)):
            if not (codes[i] == codes[j]).any():
                continue
            cos = round(float(np.dot(U[i], U[j])), 6)
            if cos >= 0.3:
                want.append((min(ids[i], ids[j]),
                             max(ids[i], ids[j]), cos))
    assert got == sorted(want)


def test_near_dup_band_plan_math():
    """Planner sizing: expected bucket ~ target rows, recall formula
    1-(1-p^r)^B meets the target, and low-tau misuse raises."""
    import math

    import pytest as _pytest

    from gorillaspark.operators.similarity import near_dup_band_plan

    n_planes, n_bands = near_dup_band_plan(10_000_000, 0.9)
    r = n_planes // n_bands
    assert n_planes == r * n_bands
    # bucket expectation: n / 2^r <= 2 * target (ceil keeps it tight)
    assert 10_000_000 / 2 ** r <= 2 * 4096
    p = 1 - math.acos(0.9) / math.pi
    assert 1 - (1 - p ** r) ** n_bands >= 0.999
    # 100x the corpus: r grows by ~log2(100), bands stay finite
    np2, nb2 = near_dup_band_plan(1_000_000_000, 0.9)
    assert (np2 // nb2) - r in (6, 7)
    with _pytest.raises(ValueError, match="too low"):
        near_dup_band_plan(10_000_000_000_000, 0.3)
