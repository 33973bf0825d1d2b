"""Corpus I/O: JSONL/CSV sources (explicit schema, corrupt capture) and
the deterministic hash-sharded parquet sink."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from mvrepair.sources import corpus as C


def test_read_jsonl_clean_and_corrupt(spark, tmp_path):
    p = tmp_path / "docs.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "hello world", "lang": "en", "source": "web", "n_chars": 11}\n'
        '{"doc_id": 2, "text": "bonjour", "lang": "fr", "source": "web", "n_chars": 7}\n'
        "this line is not json at all\n"
    )
    df = C.read_jsonl(spark, str(p))
    clean, bad = C.split_corrupt(df)
    rows = {r.doc_id: r for r in clean.collect()}
    assert set(rows) == {1, 2}
    assert rows[1].text == "hello world" and rows[2].lang == "fr"
    assert C.CORRUPT_COL not in clean.columns
    [b] = bad.collect()
    assert "not json" in b[C.CORRUPT_COL]


def test_read_csv_schema_and_header(spark, tmp_path):
    p = tmp_path / "docs.csv"
    p.write_text(
        "doc_id,text,lang,source,n_chars\n"
        "1,alpha beta,en,crawl,10\n"
        "2,gamma,de,books,5\n"
    )
    clean, bad = C.split_corrupt(C.read_csv(spark, str(p)))
    got = {r.doc_id: (r.text, r.lang, r.n_chars) for r in clean.collect()}
    assert got == {1: ("alpha beta", "en", 10), 2: ("gamma", "de", 5)}
    # count() would reference only the corrupt column post-pruning, which
    # Spark rejects on raw CSV scans; collect() keeps all columns referenced
    assert bad.collect() == []
    # schema is the declared one, not inferred
    assert dict(clean.dtypes)["doc_id"] == "bigint"


def test_write_training_shards_deterministic_roundtrip(spark, tmp_path):
    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(200)], "doc_id long, text string"
    )
    out = str(tmp_path / "shards")
    C.write_training_shards(docs, out, n_shards=8)
    back = C.read_training_shards(spark, out)
    assert back.count() == 200
    assert set(back.select("doc_id").toPandas()["doc_id"]) == set(range(200))
    # shard dirs exist and shard ids are the deterministic hash assignment
    dirs = sorted(os.path.basename(d) for d in glob.glob(out + "/shard=*"))
    assert all(d.startswith("shard=") for d in dirs) and len(dirs) > 1
    want = {
        r.doc_id: r.s
        for r in docs.select(
            "doc_id", C.shard_id(F.col("doc_id"), 8).alias("s")
        ).collect()
    }
    got = {r.doc_id: r.shard for r in back.select("doc_id", "shard").collect()}
    assert got == want
    # rewriting yields the identical assignment (run-stable)
    C.write_training_shards(docs, out, n_shards=8)
    again = {
        r.doc_id: r.shard
        for r in C.read_training_shards(spark, out).select("doc_id", "shard").collect()
    }
    assert again == got


def test_write_training_shards_max_records_splits_files(spark, tmp_path):
    docs = spark.createDataFrame(
        [(i, "x") for i in range(100)], "doc_id long, text string"
    )
    out = str(tmp_path / "s2")
    C.write_training_shards(docs, out, n_shards=2, max_records_per_file=10)
    files = glob.glob(out + "/shard=*/part-*.parquet")
    # 100 rows / 2 shards, <=10 rows per file -> at least 10 data files
    assert len(files) >= 10
    import pyarrow.parquet as pq

    assert max(pq.read_metadata(f).num_rows for f in files) <= 10


def test_read_training_shards_prunes_partitions(spark, tmp_path):
    docs = spark.createDataFrame(
        [(i, "x") for i in range(50)], "doc_id long, text string"
    )
    out = str(tmp_path / "s3")
    C.write_training_shards(docs, out, n_shards=4)
    pruned = C.read_training_shards(spark, out, shards=[1, 2])
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "shard" in plan
    assert set(
        r.shard for r in pruned.select("shard").distinct().collect()
    ) <= {1, 2}


def test_sorted_shards_carry_monotone_rowgroup_stats(spark, tmp_path):
    """sort_col produces per-row-group min/max stats that are tight and
    monotone within each file — the property row-group skipping needs."""
    import glob

    import pyarrow.parquet as pq

    docs = spark.range(0, 2000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") * 37 % 1999).alias("ts"),
        F.concat(F.lit("doc "), F.col("id")).alias("text"),
    )
    out = str(tmp_path / "sorted_shards")
    C.write_training_shards(docs, out, n_shards=4, sort_col="ts")
    checked = 0
    for path in glob.glob(f"{out}/shard=*/part-*.parquet"):
        md = pq.ParquetFile(path).metadata
        ts_idx = md.schema.to_arrow_schema().names.index("ts")
        prev_max = None
        for g in range(md.num_row_groups):
            st = md.row_group(g).column(ts_idx).statistics
            assert st.min <= st.max
            if prev_max is not None:
                assert st.min >= prev_max  # monotone across row groups
            prev_max = st.max
            checked += 1
    assert checked > 0
    # and a filtered read pushes the predicate to the scan
    plan = (
        spark.read.parquet(out)
        .filter(F.col("ts") < 10)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [IsNotNull(ts), LessThan(ts,10)]" in plan, plan


def test_orc_roundtrip_value_exact_and_pushdown(spark, sf_dir):
    from pyspark.sql import functions as F

    from mvrepair.sources.parquet import load_table, roundtrip_orc

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice", "l_shipdate"
    )
    orc = roundtrip_orc(li, "/tmp/mvrepair_orc_test")
    assert orc.schema == li.schema
    a = {tuple(r) for r in li.collect()}
    b = {tuple(r) for r in orc.collect()}
    assert a == b and a
    plan = (
        orc.filter(F.col("l_orderkey") == 1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "FileScan orc" in plan
    assert "PushedFilters" in plan and "EqualTo(l_orderkey,1)" in plan.replace(" ", "")


def test_load_table_reads_nanos_timestamps_without_leaking_conf(
    spark, tmp_path
):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mvrepair.sources.parquet import load_table, load_stream

    key = "spark.sql.legacy.parquet.nanosAsLong"
    ns = [1_700_000_000_123_456_789, 1_600_000_000_000_001_999]
    pq.write_table(
        pa.table(
            {
                "id": pa.array([1, 2], pa.int64()),
                "ts": pa.array(ns, pa.timestamp("ns")),
            }
        ),
        str(tmp_path / "t.parquet"),
    )
    before = spark.conf.get(key, None)
    df = load_table(spark, str(tmp_path), "t")
    load_stream(spark, str(tmp_path), "t")
    assert spark.conf.get(key, None) == before
    # the scan runs after the conf is gone: truncated to µs, exactly
    rows = df.select("id", "ts", F.unix_micros("ts").alias("us")).collect()
    got = {r["id"]: (r["ts"].microsecond, r["us"]) for r in rows}
    assert got == {
        1: (123_456, ns[0] // 1000),
        2: (1, ns[1] // 1000),
    }


# ------------------------------------------------- token-range source


def test_tokenrange_partitions_cover_and_disjoint():
    from mvrepair.sources.tokenrange import TOKEN_SPACE, TokenRangeReader

    r = TokenRangeReader(
        {"path": "x", "pk": "id", "splits": "7", "columns": "id"}
    )
    parts = r.partitions()
    assert parts[0].lo == 0 and parts[-1].hi == TOKEN_SPACE
    for a, b in zip(parts, parts[1:]):
        assert a.hi == b.lo  # contiguous, disjoint half-open ranges
    assert [p.split_id for p in parts] == list(range(7))


def test_tokenrange_scan_is_exact_partition_of_table(spark, sf_dir):
    from pyspark.sql import functions as F

    from mvrepair.sources.tokenrange import TokenRangeDataSource

    from mvrepair.tuning import conf_scope

    with conf_scope(
        spark, {"spark.sql.python.filterPushdown.enabled": "true"}
    ):
        spark.dataSource.register(TokenRangeDataSource)
        df = (
            spark.read.format("mvrepair_tokenrange")
            .option("path", f"{sf_dir}/events.parquet")
            .option("pk", "event_id")
            .option("splits", "4")
            .option("columns", "event_id,event_type")
            .load()
        )
        plain = spark.read.parquet(f"{sf_dir}/events.parquet")
        # every row appears in exactly one range: ids through the source
        # equal the raw table's ids, with no duplicates
        ids = [r["event_id"] for r in df.select("event_id").collect()]
        assert len(ids) == len(set(ids)) == plain.count()
        # per-row range assignment matches the python token twin
        from mvrepair.sources.tokenrange import TOKEN_SPACE, py_token

        width = TOKEN_SPACE // 4
        sample = df.select("event_id", "token", "split_id").limit(50).collect()
        for r in sample:
            assert r["token"] == py_token(r["event_id"])
            assert r["split_id"] == min(r["token"] // width, 3)
        # pushdown: the equality filter reaches the reader, so the
        # post-scan Filter keeps only the isnotnull guard
        plan = (
            df.filter(F.col("event_type") == "view")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BatchScan mvrepair_tokenrange" in plan
        assert "view" not in plan.split("BatchScan")[0], (
            "equality filter re-applied above the scan — pushFilters lost:\n"
            + plan
        )


def test_tokenrange_option_validation():
    import pytest

    from mvrepair.sources.tokenrange import TokenRangeReader

    with pytest.raises(ValueError):
        TokenRangeReader({"pk": "id"})
    with pytest.raises(ValueError):
        TokenRangeReader({"path": "x"})
    with pytest.raises(ValueError):
        TokenRangeReader({"path": "x", "pk": "id", "splits": "0"})


def test_tokenrange_stream_offset_contract(sf_dir):
    """Drive the simple stream reader's offset protocol directly: one
    range per read(), monotone offsets, a settled end-of-ring, and
    readBetweenOffsets replaying exactly the committed span."""
    from mvrepair.sources.tokenrange import TokenRangeStreamReader

    r = TokenRangeStreamReader(
        {
            "path": f"{sf_dir}/events.parquet",
            "pk": "event_id",
            "splits": "3",
            "columns": "event_id,event_type",
        }
    )
    assert r.initialOffset() == {"split": 0}
    seen: dict[int, list] = {}
    off = r.initialOffset()
    for expect in (1, 2, 3):
        rows, off = r.read(off)
        rows = list(rows)
        assert off == {"split": expect}
        for row in rows:
            seen.setdefault(row[-1], []).append(row)
    # settled: reading past the ring returns nothing and stays put
    rows, off2 = r.read(off)
    assert list(rows) == [] and off2 == off
    # the three batches partition the table
    n_total = sum(len(v) for v in seen.values())
    import duckdb

    [(expected,)] = duckdb.sql(
        f"SELECT count(*) FROM '{sf_dir}/events.parquet'"
    ).fetchall()
    assert n_total == expected and set(seen) == {0, 1, 2}
    # replay determinism: the committed span re-reads identically
    replay = list(r.readBetweenOffsets({"split": 1}, {"split": 3}))
    original = seen[1] + seen[2]
    assert sorted(replay) == sorted(original)


# ------------------------------------------------------- mutation sink


def test_mutation_sink_commit_manifest_and_abort(spark, tmp_path):
    import json
    import os

    from mvrepair.sources.mutationsink import (
        MANIFEST,
        MutationSinkWriter,
        SpillCommit,
    )
    from pyspark.sql import Row

    path = str(tmp_path / "sink")
    w = MutationSinkWriter({"path": path})
    msg = w.write(iter([Row(a=1, b="x"), Row(a=2, b="y")]))
    assert msg.n_rows == 2 and msg.spill_name.endswith(".jsonl.tmp")
    # uncommitted: spill visible, no manifest -> readers see nothing
    assert os.path.exists(os.path.join(path, msg.spill_name))
    assert not os.path.exists(os.path.join(path, MANIFEST))
    # a second (speculative) attempt writes its own spill
    dup = w.write(iter([Row(a=1, b="x"), Row(a=2, b="y")]))
    assert dup.spill_name != msg.spill_name
    # commit manifests ONLY the named attempt; the duplicate's spill is
    # never renamed, so it can't double-apply
    w.commit([msg])
    final = msg.spill_name[: -len(".tmp")]
    assert os.path.exists(os.path.join(path, final))
    lines = [
        json.loads(ln)
        for ln in open(os.path.join(path, MANIFEST)).read().splitlines()
    ]
    assert lines == [{"file": final, "rows": 2}]
    # abort removes an uncommitted spill and tolerates missing files
    w.abort([dup])
    assert not os.path.exists(os.path.join(path, dup.spill_name))
    w.abort([dup])  # idempotent


def test_mutation_sink_manifest_row_guard(spark, tmp_path):
    import json
    import os

    import pytest

    from mvrepair.sources.mutationsink import (
        MANIFEST,
        read_manifested,
    )

    path = str(tmp_path / "sink2")
    os.makedirs(path)
    with open(os.path.join(path, "part-x.jsonl"), "w") as f:
        f.write(json.dumps({"a": 1}) + "\n")
    with open(os.path.join(path, MANIFEST), "w") as f:
        f.write(json.dumps({"file": "part-x.jsonl", "rows": 2}) + "\n")
    with pytest.raises(ValueError, match="manifest promises"):
        read_manifested(spark, path, "a long")
