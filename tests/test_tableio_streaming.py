"""Snapshot ledger, time travel, resumable chunks, streaming ingest."""

import shutil
from pathlib import Path

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from rasters_spark import fixtures
from rasters_spark.streaming import ingest_available_now
from rasters_spark.tableio import TableIO, partition_metrics

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def tmp_table(tmp_path):
    return TableIO(str(tmp_path / "tbl"))


def test_snapshot_append_and_time_travel(spark, tmp_table):
    df1 = spark.range(10).withColumn("v", F.col("id") * 2)
    df2 = spark.range(10, 25).withColumn("v", F.col("id") * 2)
    e1 = tmp_table.write(df1, job_id="j1")
    e2 = tmp_table.write(df2, job_id="j1")
    assert e1["snapshot_id"] == 1 and e2["parent_snapshot"] == 1
    assert e1["row_count"] == 10 and e2["row_count"] == 15
    assert tmp_table.read(spark).count() == 25
    assert tmp_table.read(spark, as_of_snapshot=1).count() == 10  # time travel
    assert all(f["rows"] > 0 and f["bytes"] > 0 for f in e2["files"])


def test_resumable_job_skips_committed_chunks(spark, tmp_table):
    calls = []

    def chunk(n):
        def thunk():
            calls.append(n)
            if n == "c2" and len([c for c in calls if c == "c2"]) == 1:
                raise RuntimeError("simulated mid-job crash")
            return spark.range(5).withColumn("chunk", F.lit(n))
        return thunk

    chunks = {f"c{i}": chunk(f"c{i}") for i in range(4)}
    with pytest.raises(RuntimeError):
        tmp_table.run_resumable("job-x", chunks)
    assert tmp_table.completed_chunks("job-x") == {"c0", "c1"}
    ran = tmp_table.run_resumable("job-x", chunks)  # resume
    assert ran == ["c2", "c3"]
    assert tmp_table.completed_chunks("job-x") == {"c0", "c1", "c2", "c3"}
    assert tmp_table.read(spark).count() == 20
    # re-run is a no-op (idempotent)
    assert tmp_table.run_resumable("job-x", chunks) == []


def test_partition_metrics_surfaces_skew(spark):
    df = spark.createDataFrame([(i % 2, i) for i in range(100)], "k int, v int").repartition(4, "k")
    m = partition_metrics(df)
    assert sum(x["rows"] for x in m) == 100
    assert max(x["rows"] for x in m) >= 50  # the two hot keys land together


def test_streaming_ingest_available_now(spark, tmp_path):
    fdir = fixtures.ensure_fixtures(SF)
    src = tmp_path / "incoming"
    src.mkdir()
    # split the fixture tiles into two "arriving" files
    t = pq.read_table(fdir / "tiles.parquet")
    pq.write_table(t.slice(0, 100), src / "part1.parquet")
    tbl = TableIO(str(tmp_path / "stream_tbl"))
    n1 = ingest_available_now(spark, str(src), tbl, str(tmp_path / "ckpt"))
    rows1 = tbl.read(spark).count()
    assert n1 >= 1 and rows1 > 0
    # second arrival: only the new file is processed (checkpoint!)
    pq.write_table(t.slice(100, 100), src / "part2.parquet")
    ingest_available_now(spark, str(src), tbl, str(tmp_path / "ckpt"))
    rows2 = tbl.read(spark).count()
    assert rows2 > rows1
    ids = tbl.read(spark).select("image_id").distinct().count()
    assert ids == 200  # every tile indexed exactly once across restarts
    # indexed rows carry cell ids joinable by the batch engine
    assert tbl.read(spark).filter(F.col("cell_id").isNull()).count() == 0


def test_windowed_counts_watermark_contract(spark, tmp_path):
    import shutil
    from pyspark.sql import functions as F
    from rasters_spark import streaming
    src = tmp_path / "ev_in"; src.mkdir()
    shutil.copy("/root/testdata/sf0.001/events.parquet", src / "events.parquet")
    out = streaming.windowed_counts_available_now(
        spark, str(src), str(tmp_path / "ck1"), delay="2 hours", query_name="t_win1")
    got = {r.epoch_hour: (r.n_events, r.value_min, r.value_max) for r in out.collect()}
    ev = spark.read.parquet(str(src)).withColumn("ts", F.col("ts").cast("timestamp"))
    wm = ev.agg(F.max(F.unix_timestamp("ts"))).collect()[0][0] - 7200
    exp = {r.epoch_hour: (r.n_events, r.value_min, r.value_max) for r in (
        ev.groupBy((F.unix_timestamp("ts") / 3600).cast("long").alias("epoch_hour"))
        .agg(F.count("*").alias("n_events"), F.min("value").alias("value_min"),
             F.max("value").alias("value_max"))
        .filter((F.col("epoch_hour") + 1) * 3600 <= wm)).collect()}
    assert got == exp and len(got) > 0
    # windows inside the watermark horizon are withheld (late-data safety)
    full_hours = {r[0] for r in ev.select((F.unix_timestamp("ts") / 3600).cast("long")).distinct().collect()}
    assert len(full_hours) > len(got)


def test_stateful_user_counts_equal_batch(spark, tmp_path):
    import shutil
    from pyspark.sql import functions as F
    from rasters_spark import streaming
    src = tmp_path / "ev_in2"; src.mkdir()
    shutil.copy("/root/testdata/sf0.001/events.parquet", src / "events.parquet")
    out = streaming.stateful_user_counts_available_now(
        spark, str(src), str(tmp_path / "ck2"), query_name="t_state1")
    got = {r.user_id: r.n_events for r in out.collect()}
    exp = {r.user_id: r.cnt for r in spark.read.parquet(str(src))
           .groupBy("user_id").agg(F.count("*").alias("cnt")).collect()}
    assert got == exp and len(got) > 0


def test_bucketed_join_has_zero_exchange(spark):
    from pyspark.sql import functions as F
    from rasters_spark import cells, tableio
    from rasters_spark.tiles import load_tiles, tiles_with_cells
    # two tables bucketed on cell_id with the same bucket count must
    # join with NO shuffle — the co-located large⋈large spatial join
    idx = tiles_with_cells(load_tiles(spark, "/root/testdata/sf0.001")).select(
        "image_id", "cell_id")
    other = idx.select(F.col("image_id").alias("other_id"), "cell_id")
    tableio.write_bucketed(spark, idx, "b_tiles", n_buckets=8)
    tableio.write_bucketed(spark, other, "b_events", n_buckets=8)
    ev_cells = other
    # the tiny test tables would otherwise broadcast (which is ALSO an
    # exchange); force the large⋈large plan shape the bucketing targets
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("b_tiles").hint("merge").join(spark.table("b_events"), "cell_id")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan[:2000]
        assert "SortMergeJoin" in plan
        assert j.count() > 0
        # sanity: the same join on unbucketed frames DOES shuffle
        j2 = idx.hint("merge").join(ev_cells, "cell_id")
        plan2 = j2._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" in plan2
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_stateful_counts_accumulate_across_microbatches(spark, tmp_path):
    # split the events into 4 source files and cap ingestion at one file
    # per trigger → 4 micro-batches → GroupState must genuinely carry
    # counts across batches (a single-batch run can't tell)
    from pyspark.sql import functions as F
    from rasters_spark import streaming
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    src = tmp_path / "ev_multi"; src.mkdir()
    for k in range(4):
        ev.filter(F.pmod(F.col("event_id"), F.lit(4)) == k).write.mode("overwrite").parquet(
            str(src / f"part{k}"))
    # flatten: file source reads a directory of parquet dirs? use glob dir
    import glob, shutil
    flat = tmp_path / "ev_flat"; flat.mkdir()
    for i, f in enumerate(sorted(glob.glob(str(src / "part*" / "*.parquet")))):
        shutil.copy(f, flat / f"f{i:03d}.parquet")
    schema = ev.schema
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        n = state.get[0] if state.exists else 0
        for pdf in pdfs:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(str(flat)))
    counts = stream.groupBy("user_id").applyInPandasWithState(
        update, outputStructType="user_id bigint, n_events bigint",
        stateStructType="n bigint", outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout)
    q = (counts.writeStream.format("memory").queryName("t_state_multi")
         .outputMode("update").option("checkpointLocation", str(tmp_path / "ck3"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    prog = q.lastProgress
    emitted = spark.table("t_state_multi")
    # multiple emissions per user prove multi-batch accumulation
    from pyspark.sql import functions as F2
    multi = emitted.groupBy("user_id").count().filter("count > 1").count()
    assert multi > 0, "expected users emitted in more than one micro-batch"
    got = {r.user_id: r.n_events for r in
           emitted.groupBy("user_id").agg(F2.max("n_events").alias("n_events")).collect()}
    exp = {r.user_id: r.cnt for r in ev.groupBy("user_id").agg(F2.count("*").alias("cnt")).collect()}
    assert got == exp


def test_stream_point_join_exactly_once(spark, tmp_path):
    """Streamed flagship join: drain equals the batch query, and a
    re-drain with the same checkpoint commits NOTHING new."""
    import shutil

    from pyspark.sql import functions as F
    from rasters_spark import fixtures, tableio
    from rasters_spark.operators import point_join, sample
    from rasters_spark.streaming import stream_point_sample_join_available_now
    from rasters_spark.tiles import load_points, load_tiles, tiles_with_cells

    sf = "/root/testdata/sf0.001"
    fdir = fixtures.ensure_fixtures(sf)
    src = tmp_path / "pts_in"
    src.mkdir()
    shutil.copy(fdir / "points.parquet", src / "points.parquet")
    tiles = tiles_with_cells(load_tiles(spark, sf))
    tbl = tableio.TableIO(str(tmp_path / "tbl"))
    out = stream_point_sample_join_available_now(
        spark, str(src), tiles, tbl, str(tmp_path / "ckpt"))
    got = {(r.point_id, r.image_id): (r.prow, r.pcol, r.value, r.caption)
           for r in out.collect()}
    batch = sample.sample_nearest(point_join.point_in_tile_join(
        load_points(spark, sf), tiles)).select(
        "point_id", "image_id", "prow", "pcol", "value", "caption")
    exp = {(r.point_id, r.image_id): (r.prow, r.pcol, r.value, r.caption)
           for r in batch.collect()}
    assert got == exp and len(got) > 0
    n_snaps = tbl.current_snapshot()
    # re-drain: checkpoint says everything is consumed → zero new commits
    stream_point_sample_join_available_now(
        spark, str(src), tiles, tbl, str(tmp_path / "ckpt"))
    assert tbl.current_snapshot() == n_snaps


def test_write_zordered_shrinks_rowgroup_spans(spark, tmp_path):
    """Z-clustered rewrite: mean per-row-group z-id span collapses vs
    insertion order — the statistic parquet/Iceberg min-max pruning
    actually consumes (a bbox query's candidate row groups go from
    'nearly all' to 'a handful')."""
    import pyarrow.parquet as pq

    from rasters_spark import cells, fixtures
    from rasters_spark.tableio import write_zordered
    from rasters_spark.tiles import load_tiles

    t = load_tiles(spark, "/root/testdata/sf0.01")
    # tile centers as SQL text: the cell-math helpers take SQL text
    cx = "x_origin + cell_width * cast(w as double) / 2.0E0"
    cy = "y_origin + cell_height * cast(h as double) / 2.0E0"
    base = str(tmp_path / "plain")
    (t.withColumn("z_id", cells.z_cell_id(cx, cy, fixtures.CELL_LEVEL))
      .repartition(8)  # insertion order: z scattered across files
      .write.mode("overwrite").parquet(base))
    zdir = str(tmp_path / "zsorted")
    write_zordered(t, zdir, n_files=8)

    def mean_span(d):
        spans, files = [], list(__import__("pathlib").Path(d).glob("*.parquet"))
        assert files
        for f in files:
            md = pq.ParquetFile(str(f)).metadata
            for rg in range(md.num_row_groups):
                col = next(md.row_group(rg).column(i)
                           for i in range(md.row_group(rg).num_columns)
                           if md.row_group(rg).column(i).path_in_schema == "z_id")
                st = col.statistics
                spans.append(st.max - st.min)
        return sum(spans) / len(spans)

    plain, zs = mean_span(base), mean_span(zdir)
    # clustered spans collapse ~n_files-fold even at 2k rows (measured
    # 8.1x with 8 files; the ratio grows with table size as row groups
    # per file multiply)
    assert zs < plain / 5
    # and the rewrite preserves the rows
    assert spark.read.parquet(zdir).count() == t.count()


def test_stream_minhash_dedup_matches_batch_and_is_incremental(spark):
    """Round-5 streaming dedup: the availableNow drain (1 file per
    micro-batch, disk-backed band-table state) must equal the batch
    exact-Jaccard answer reduced per doc, and must actually have run
    incrementally (one output snapshot per micro-batch)."""
    import pandas as pd

    import __spark_entry__ as e
    from rasters_spark.datapipe import dedup
    from rasters_spark.tableio import TableIO

    sf = "/root/testdata/sf0.001"
    got = (e.q_stream_minhash_dedup(spark, sf).toPandas()
           .sort_values("doc_id").reset_index(drop=True))
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    pairs = dedup.ngram_jaccard_pairs(docs, 3, 0.85)
    exp = (pairs.groupBy(F.col("doc_b").alias("doc_id"))
           .agg(F.min("doc_a").alias("dup_of"), F.min_by("j", "doc_a").alias("j"))
           .toPandas().sort_values("doc_id").reset_index(drop=True))
    assert len(got) > 0
    pd.testing.assert_frame_equal(got, exp, check_exact=True)
    # incremental: 3 source files → 3 exactly-once output snapshots
    import os
    import tempfile
    work = os.path.join(tempfile.gettempdir(), "stream-dedup-sf0.001")
    snaps = TableIO(os.path.join(work, "out")).snapshots()
    assert len([s for s in snaps if s["operation"] == "stream-dedup"]) == 3


def test_compact_bin_packs_small_files_and_preserves_content(spark, tmp_table):
    """Iceberg rewrite_data_files analogue: 6 small append snapshots
    (each multi-file) bin-pack into ONE replace snapshot; row-level
    content is untouched; the live file count actually drops; time
    travel to a pre-compaction snapshot still reads the ORIGINAL files;
    a table of already-big files is a no-op."""
    for i in range(6):
        tmp_table.write(
            spark.range(i * 100, (i + 1) * 100)
            .withColumn("v", F.col("id") * 3).repartition(4), job_id="ingest")
    before = tmp_table._live_files(tmp_table.snapshots())
    assert len(before) == 24
    rows_before = sorted((r.id, r.v) for r in tmp_table.read(spark).collect())

    entry = tmp_table.compact(spark, small_file_bytes=32 << 20,
                              target_file_bytes=128 << 20)
    assert entry is not None and entry["operation"] == "replace"
    assert entry["rewritten_files"] == 24
    after = tmp_table._live_files(tmp_table.snapshots())
    assert len(after) == 1                       # bin-packed into one file
    assert entry["row_count"] == 600
    assert sorted((r.id, r.v) for r in tmp_table.read(spark).collect()) == rows_before
    # time travel below the compaction still resolves the original files
    assert tmp_table.read(spark, as_of_snapshot=2).count() == 200
    # appends after compaction extend the replaced live set
    tmp_table.write(spark.range(600, 650).withColumn("v", F.col("id") * 3))
    assert tmp_table.read(spark).count() == 650
    # second compact: everything already packed → rewrites the two
    # (compacted + appended) files into one again
    e2 = tmp_table.compact(spark)
    assert e2 is not None and tmp_table.read(spark).count() == 650
    # nothing small left but one file → no-op, no ledger churn
    n = tmp_table.current_snapshot()
    assert tmp_table.compact(spark) is None
    assert tmp_table.current_snapshot() == n


def test_expire_snapshots_bounds_history(spark, tmp_table):
    """expireSnapshots contract: files unreferenced by any retained
    snapshot are physically deleted, current reads are byte-identical,
    travel below the horizon raises the typed error, and the call is
    idempotent."""
    from rasters_spark.tableio import SnapshotExpiredError

    for i in range(4):
        tmp_table.write(spark.range(i * 10, (i + 1) * 10).repartition(2))
    tmp_table.compact(spark)                      # snapshot 5 (replace)
    rows = sorted(r.id for r in tmp_table.read(spark).collect())
    n_files_before = len(list((Path(tmp_table.base) / "data").glob("snap-*/*.parquet")))

    entry = tmp_table.expire_snapshots(keep_last=1)
    assert entry["operation"] == "expire" and entry["expired_through"] == 5
    # the 8 pre-compaction originals are gone; the compacted file remains
    assert len(entry["deleted_files"]) == 8
    remaining = list((Path(tmp_table.base) / "data").glob("snap-*/*.parquet"))
    assert len(remaining) == n_files_before - 8
    assert sorted(r.id for r in tmp_table.read(spark).collect()) == rows
    assert tmp_table.read(spark, as_of_snapshot=5).count() == 40  # horizon ok
    with pytest.raises(SnapshotExpiredError):
        tmp_table.read(spark, as_of_snapshot=4)
    # idempotent: a second expire deletes nothing further
    assert tmp_table.expire_snapshots(keep_last=1)["deleted_files"] == []
    # ledger keeps full lineage history even for expired snapshots
    assert [e["snapshot_id"] for e in tmp_table.snapshots()][:5] == [1, 2, 3, 4, 5]


def test_stream_composite_matches_batch(spark, tmp_path):
    """The incremental composite's partial-merge equals the one-shot
    batch composite bit-for-bit, and the ledger shows one exactly-once
    snapshot per micro-batch."""
    from rasters_spark import fixtures
    from rasters_spark.operators import resample
    from rasters_spark.streaming import stream_composite_available_now
    from rasters_spark.tableio import TableIO
    from rasters_spark.tiles import load_tiles

    target = dict(x_origin=-180.0, y_origin=90.0, cell_width=0.25,
                  cell_height=-0.25, rows=720, cols=1440, crs="EPSG:4326")
    fdir = fixtures.ensure_fixtures(SF)
    src = str(tmp_path / "in")
    spark.read.parquet(str(fdir / "tiles.parquet")).repartition(3) \
        .write.mode("overwrite").parquet(src)
    tbl = TableIO(str(tmp_path / "tbl"))
    got = stream_composite_available_now(
        spark, src, tbl, str(tmp_path / "ckpt"), target).collect()
    snaps = [s for s in tbl.snapshots() if s["operation"] == "stream-composite"]
    assert len(snaps) >= 2  # genuinely incremental (one per file batch)
    batch = resample.composite_max(
        load_tiles(spark, SF).filter("fmt = 'raw'"), target).collect()
    key = lambda r: (r.trow, r.tcol)  # noqa: E731
    gm = {key(r): (r.value, r.epoch, r.n_obs) for r in got}
    bm = {key(r): (r.value, r.epoch, r.n_obs) for r in batch}
    assert gm == bm


def test_stream_decontaminate_matches_batch(spark, tmp_path):
    from rasters_spark.datapipe import textstats
    from rasters_spark.streaming import stream_decontaminate_available_now
    from rasters_spark.tableio import TableIO

    docs = spark.createDataFrame(
        [(i, f"w{i} common phrase four grams tail{i % 3}") for i in range(12)]
        + [(100, "common phrase four grams")],
        "doc_id long, text string")
    train = docs.filter("doc_id < 100")
    ev = docs.filter("doc_id = 100")
    src = str(tmp_path / "in")
    train.repartition(3).write.mode("overwrite").parquet(src)
    tbl = TableIO(str(tmp_path / "tbl"))
    got = {r.doc_id: (r.n_overlap_grams, r.n_overlap_instances)
           for r in stream_decontaminate_available_now(
               spark, src, ev, tbl, str(tmp_path / "ckpt"), 4).collect()}
    batch = {r.doc_id: (r.n_overlap_grams, r.n_overlap_instances)
             for r in textstats.decontaminate(train, ev, 4).collect()}
    assert got == batch and len(got) == 12
    snaps = [s for s in tbl.snapshots() if s["operation"] == "stream-decontam"]
    assert len(snaps) >= 2


def test_stream_cohort_matches_batch(spark, tmp_path):
    from rasters_spark.operators import events as eventops
    from rasters_spark.streaming import stream_cohort_available_now
    from rasters_spark.tableio import TableIO

    src = str(tmp_path / "in")
    spark.read.parquet("/root/testdata/sf0.001/events.parquet") \
        .repartition(3).write.mode("overwrite").parquet(src)
    tbl = TableIO(str(tmp_path / "tbl"))
    got = {(r.cohort_day, r.day_offset): r.n_users
           for r in stream_cohort_available_now(
               spark, src, tbl, str(tmp_path / "ckpt")).collect()}
    batch = {(r.cohort_day, r.day_offset): r.n_users
             for r in eventops.cohort_retention(
                 spark.read.parquet("/root/testdata/sf0.001/events.parquet")).collect()}
    assert got == batch
    snaps = [s for s in tbl.snapshots() if s["operation"] == "stream-cohort"]
    assert len(snaps) >= 2


def test_stream_sessionize_merges_across_batches(spark, tmp_path):
    """A session whose events straddle the batch-file boundary must
    merge into ONE state row equal to the batch answer."""
    import datetime as dt
    import os

    from rasters_spark.operators import events as eventops
    from rasters_spark.streaming import stream_sessionize_available_now
    from rasters_spark.tableio import TableIO

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0, 7, "view"),
        (2, t0 + dt.timedelta(minutes=20), 7, "error"),     # file 0
        (3, t0 + dt.timedelta(minutes=40), 7, "click"),     # file 1: 20-min gap -> SAME session
        (4, t0 + dt.timedelta(minutes=200), 7, "view"),     # file 2: new session
        (5, t0 + dt.timedelta(minutes=30), 9, "view"),      # other user, file 1
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long, event_type string")
    src = str(tmp_path / "in")
    os.makedirs(src)
    splits = [df.filter("event_id <= 2"), df.filter("event_id in (3, 5)"),
              df.filter("event_id = 4")]
    for k, part in enumerate(splits):
        tmp = str(tmp_path / f"t{k}")
        part.coalesce(1).write.mode("overwrite").parquet(tmp)
        pf = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
        dst = os.path.join(src, f"{k:02d}.parquet")
        os.rename(os.path.join(tmp, pf), dst)
        os.utime(dst, (1700000000 + k * 3600,) * 2)
    tbl = TableIO(str(tmp_path / "tbl"))
    got = {(r.user_id, r.session_id): (r.n_events, r.n_error, r.duration_us)
           for r in stream_sessionize_available_now(
               spark, src, tbl, str(tmp_path / "ckpt"), 30).collect()}
    batch = {(r.user_id, r.session_id): (r.n_events, r.n_error, r.duration_us)
             for r in eventops.sessionize(df, 30).collect()}
    assert got == batch
    assert got[(7, 1)] == (3, 1, 40 * 60 * 1_000_000)  # straddles files 0|1
    assert (7, 4) in got and (9, 5) in got
    # one replace snapshot per micro-batch
    reps = [s for s in tbl.snapshots() if s["operation"] == "replace"]
    assert len(reps) == 3
