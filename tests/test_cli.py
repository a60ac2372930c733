"""The CLI importer entry points (cli.py) — the reference's user surface
(`sample_run.sh:1`: one run = <ImporterClass> <conf> <input> <output>).

Each format ingests the same records, so every run must produce the
identical cell multiset; the output directory must satisfy the bulk-load
contract (bucket-partitioned, per-file sorted, non-overlapping).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from hbase_bulkload_spark import cli
from hbase_bulkload_spark.operators.bulkload import TASKS_PER_CORE
from hbase_bulkload_spark.sources import records


@pytest.fixture(scope="module")
def inputs(spark, sf_dir, tmp_path_factory):
    """Materialize the format fixtures once (shared cache dir)."""
    jsonl = str(tmp_path_factory.mktemp("fix") / "records_jsonl")
    records.wide9(spark, sf_dir).select(*records.RECORD_COLS).coalesce(
        2
    ).write.mode("overwrite").json(jsonl)
    return {
        "text": records.delimited_lines_path(spark, sf_dir),
        "csv": records.csv_path(spark, sf_dir),
        "columnar": records.orc_path(spark, sf_dir),
        "avro": records.avro_path(spark, sf_dir),
        "rcfile": records.rcfile_path(spark, sf_dir),
        "jsonl": jsonl,
    }


def _load_out(spark, path):
    return spark.read.parquet(path)


@pytest.mark.parametrize("fmt", ["text", "csv", "columnar", "avro", "rcfile", "jsonl"])
def test_cli_ingest_contract(spark, inputs, tmp_path, fmt):
    out = str(tmp_path / f"out_{fmt}")
    cli.ingest(spark, inputs[fmt], out, fmt=fmt)

    df = _load_out(spark, out)
    assert set(df.columns) == {"rowkey", "family", "qualifier", "value", "bucket"}
    # bucket-partitioned layout on disk
    assert any(d.startswith("bucket=") for d in os.listdir(out))
    assert df.count() > 0
    # every cell's bucket is the first hex char of its key
    bad = df.filter(F.substring("rowkey", 1, 1) != F.col("bucket")).count()
    assert bad == 0


def test_cli_formats_agree(spark, inputs, tmp_path):
    """columnar/avro runs of the same records produce identical KV
    cells; csv agrees on every row whose last field is non-null. The
    difference is reference-faithful: the CSV mapper's Java
    `split(",")` drops trailing empty strings, so a NULL-z8 row fails
    its arity gate and is skipped wholesale, while the columnar/Avro
    importers keep the row and skip only the null *field*."""
    cells = {}
    for fmt in ["csv", "columnar", "avro", "rcfile", "jsonl"]:
        out = str(tmp_path / f"agree_{fmt}")
        cli.ingest(spark, inputs[fmt], out, fmt=fmt)
        cells[fmt] = _load_out(spark, out).select("rowkey", "qualifier", "value")

    col, avro, csv = cells["columnar"], cells["avro"], cells["csv"]
    assert col.exceptAll(avro).count() == 0
    assert avro.exceptAll(col).count() == 0
    rc = cells["rcfile"]
    assert col.exceptAll(rc).count() == 0
    assert rc.exceptAll(col).count() == 0
    # csv == columnar restricted to rows that kept their z8 cell
    with_z8 = col.filter(F.col("qualifier") == "z8").select("rowkey").distinct()
    expected = col.join(with_z8, "rowkey")
    assert csv.exceptAll(expected).count() == 0
    assert expected.exceptAll(csv).count() == 0


def test_cli_text_arity_gate(spark, inputs, tmp_path):
    """The text path drops malformed (8-field) rows — the mapper's
    skip-record branch (`BulkImporterFromText.java:56,68-70`)."""
    out = str(tmp_path / "out_text_gate")
    cli.ingest(spark, inputs["text"], out, fmt="text")
    n_keys = _load_out(spark, out).select("rowkey").distinct().count()

    wide = records.wide9(spark, os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001"))
    # valid = not malformed AND not null-z8 (concat_ws drops the null
    # field, making those lines 8-field too — records.py docstring).
    # Distinct key tuples, not row count: the synthetic lineitem carries
    # occasional duplicate (z0..z3) tuples and duplicates share a rowkey.
    n_valid_keys = (
        wide.filter(
            (F.col("_seq") % records.MALFORMED_MOD != 0)
            & (F.col("_seq") % records.NULL_MOD != 0)
        )
        .select("z0", "z1", "z2", "z3")
        .distinct()
        .count()
    )
    assert n_keys == n_valid_keys


def test_cli_csv_arity_gate(spark, tmp_path):
    """The CSV path enforces the reference's strict arity gate
    (`split(",").length == COLUMN_COUNT`, BulkImporterFromCSVText.java:55-56)
    with Java split semantics: short rows, over-long rows, AND rows
    whose trailing field is empty (Java's split drops trailing empties)
    are skipped — never padded with nulls, which would ingest
    md5("")-keyed records the reference rejects."""
    src = str(tmp_path / "csv_gate_src")
    os.makedirs(src)
    with open(os.path.join(src, "part.csv"), "w", encoding="utf-8") as fh:
        fh.write("a1,b1,c1\n")          # valid
        fh.write("a2,b2\n")             # short -> dropped
        fh.write("a3,b3,c3,d3\n")       # long -> dropped
        fh.write("a4,,c4\n")            # mid-row empty -> kept, z1 == ""
        fh.write("a5,b5,\n")            # trailing empty -> dropped (Java)
        fh.write("a6,b6,c6,,,\n")       # trailing empties dropped -> kept
        fh.write(",,,\n")               # all empty -> dropped (0 fields)
        # Java splits on the commas only: 4 fields -> dropped
        fh.write("a7,b7,c7,\u2028\n")
        fh.write("a8,b8,c8,\u0085\n")
    df = cli.read_csv(spark, src, 3)
    rows = {r.z0: r for r in df.collect()}
    assert set(rows) == {"a1", "a4", "a6"}
    assert rows["a4"].z1 == ""  # empty string, not null (reference keeps "")

    out = str(tmp_path / "csv_gate_out")
    cli.ingest(spark, src, out, fmt="csv", n_columns=3, key_cols=[0])
    keys = _load_out(spark, out).select("rowkey").distinct().count()
    assert keys == 3  # only the three valid rows produce rowkeys


@pytest.mark.parametrize("observed", [False, True])
@pytest.mark.parametrize("fmt", ["text", "csv"])
def test_read_splits_each_line_once(spark, tmp_path, fmt, observed):
    """The executed scan plan splits each line once, with and without
    the skip-count observation: the arity gate filters the one split's
    output instead of being pushed below it with a split of its own."""
    from pyspark.sql import Observation

    src = str(tmp_path / "lines")
    os.makedirs(src)
    with open(os.path.join(src, "part"), "w") as fh:
        fh.write("a,b,c\n")
    obs = Observation() if observed else None
    if fmt == "csv":
        df = cli.read_csv(spark, src, 3, observation=obs)
    else:
        df = cli.read_text(spark, src, 3, sep=",", observation=obs)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("split(") == 1, plan
    assert "regexp_replace" not in plan, plan
    assert [tuple(r) for r in df.collect()] == [("a", "b", "c")]


def test_cli_generic_arity(spark, tmp_path):
    """The CLI is schema-generic, unlike the reference's hardcoded
    COLUMN_COUNT = 9 (`BulkImporterFromText.java:43`): a 3-column input
    with a 2-column key works end to end."""
    src = str(tmp_path / "nation3")
    (
        spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
        .select(
            F.col("n_nationkey").cast("string"),
            F.col("n_name"),
            F.col("n_regionkey").cast("string"),
        )
        .write.mode("overwrite")
        .csv(src)
    )
    out = str(tmp_path / "out_nation3")
    cli.ingest(spark, src, out, fmt="csv", n_columns=3, key_cols=[0, 2])
    df = _load_out(spark, out)
    n_nations = spark.read.parquet("/root/testdata/sf0.001/nation.parquet").count()
    assert df.select("rowkey").distinct().count() == n_nations
    # 2 key fields → 2 × 32-hex digests
    assert df.select(F.length("rowkey")).distinct().collect()[0][0] == 64
    # one cell per non-null column value
    n_vals = sum(
        spark.read.schema("z0 string,z1 string,z2 string")
        .csv(src)
        .select([F.count(c) for c in ["z0", "z1", "z2"]])
        .collect()[0]
    )
    assert df.count() == n_vals


def test_sorted_within_files(spark, inputs, tmp_path):
    """Per-file cell order: (rowkey, qualifier) non-decreasing — the
    PutSortReducer contract the HFile sink relies on."""
    out = str(tmp_path / "out_sorted")
    cli.ingest(spark, inputs["csv"], out, fmt="csv")
    df = spark.read.parquet(out).withColumn("_file", F.input_file_name())
    from pyspark.sql import Window

    w = Window.partitionBy("_file").orderBy(F.monotonically_increasing_id())
    prev = F.lag(F.concat_ws("\x00", "rowkey", "qualifier")).over(w)
    cur = F.concat_ws("\x00", "rowkey", "qualifier")
    violations = df.select((prev > cur).alias("bad")).filter("bad").count()
    assert violations == 0


def test_cli_reference_fidelity_flags(spark, tmp_path):
    """--raw-binary-keys + --positional-qualifiers produce cells a
    legacy consumer of the reference reads unchanged: binary 64-byte
    rowkeys (RowKeyConverter.java:26-29), Bytes.toBytes(i) qualifiers
    (BulkImporterFromText.java:65), bucket = first hex nibble."""
    import hashlib

    src = str(tmp_path / "fid_src")
    os.makedirs(src)
    with open(os.path.join(src, "p.csv"), "w") as fh:
        fh.write("35218,195,Alabama Power Co,AL,Bundled\n")
    out = str(tmp_path / "fid_out")
    cli.ingest(
        spark, src, out, fmt="csv", n_columns=5,
        raw_binary_keys=True, positional_qualifiers=True,
    )
    df = _load_out(spark, out)
    rows = df.collect()
    expected_key = b"".join(
        hashlib.md5(f.encode()).digest()
        for f in ("35218", "195", "Alabama Power Co", "AL")
    )
    assert len(rows) == 5
    for r in rows:
        assert bytes(r.rowkey) == expected_key
        assert r.bucket == format(expected_key[0] >> 4, "x")
    assert {bytes(r.qualifier) for r in rows} == {
        bytes([0, 0, 0, i]) for i in range(5)
    }


def test_cli_fidelity_hfile_sink_binary_scan(spark, tmp_path):
    """Reference-fidelity cells through the HFile sink and back: raw
    64-byte rowkeys and positional qualifiers are not UTF-8, so the
    read-back uses the binary scan mode and must recover the exact
    reference bytes."""
    import hashlib

    from hbase_bulkload_spark.operators.hfile_load import scan_hfiles

    src = str(tmp_path / "fidh_src")
    os.makedirs(src)
    with open(os.path.join(src, "p.csv"), "w") as fh:
        fh.write("35218,195,Alabama Power Co,AL,Bundled\n")
        fh.write("10000,42,Example Utility,TX,Delivery\n")
    out = str(tmp_path / "fidh_out")
    cli.ingest(
        spark, src, out, fmt="csv", n_columns=5,
        raw_binary_keys=True, positional_qualifiers=True, sink="hfile",
    )
    got = scan_hfiles(spark, out, binary=True).collect()
    assert len(got) == 10  # 2 rows x 5 cells
    want_keys = {
        b"".join(
            hashlib.md5(f.encode()).digest()
            for f in ("35218", "195", "Alabama Power Co", "AL")
        ),
        b"".join(
            hashlib.md5(f.encode()).digest()
            for f in ("10000", "42", "Example Utility", "TX")
        ),
    }
    assert {bytes(r.rowkey) for r in got} == want_keys
    assert {bytes(r.qualifier) for r in got} == {
        bytes([0, 0, 0, i]) for i in range(5)
    }
    # values decode as the original fields
    vals = {bytes(r.value).decode() for r in got}
    assert "Alabama Power Co" in vals and "Delivery" in vals


def test_cli_conf_passthrough(spark, tmp_path):
    """--conf K=V lands in the session (the ToolRunner -D generic
    option surface, BulkImporterFromCSVText.java:164-168)."""
    src = str(tmp_path / "conf_src")
    os.makedirs(src)
    with open(os.path.join(src, "p.csv"), "w") as fh:
        fh.write("a,b,c\n")
    out = str(tmp_path / "conf_out")
    prior = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        rc = cli.main([
            src, out, "--format", "csv", "--columns", "3",
            "--key-cols", "0",
            "--conf", "spark.sql.shuffle.partitions=7",
        ])
        assert rc == 0
        assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
        assert _load_out(spark, out).count() == 3
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prior)


def test_ingest_metrics_one_pass(spark, inputs, tmp_path):
    """collect_metrics attaches Observations: input/valid/skipped counts
    accumulate during the single ingest pass (the reference's
    "skipping record" println as exactly-once observed metrics) and must
    reconcile with the written output."""
    out = str(tmp_path / "obs_out")
    m = cli.ingest(
        spark, inputs["text"], out, fmt="text", collect_metrics=True
    )
    assert m is not None and m["n_input"] > 0
    assert m["n_input"] == m["n_valid"] + m["n_skipped"]
    assert m["n_skipped"] > 0  # the fixture plants malformed rows
    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    wide = records.wide9(spark, sf)
    n_valid_rows = wide.filter(
        (F.col("_seq") % records.MALFORMED_MOD != 0)
        & (F.col("_seq") % records.NULL_MOD != 0)
    ).count()
    assert m["n_valid"] == n_valid_rows
    # duplicate (z0..z3) tuples share a rowkey, so distinct keys ≤ valid
    distinct_keys = _load_out(spark, out).select("rowkey").distinct().count()
    assert distinct_keys <= m["n_valid"]


def test_cli_main_hfile_sink(spark, tmp_path, capsys):
    """`--sink hfile` from the command line writes the loaded region
    table (not parquet), and a csv run prints the reference's
    in/valid/skipped line."""
    import glob

    src = str(tmp_path / "main_src")
    os.makedirs(src)
    with open(os.path.join(src, "p.csv"), "w") as fh:
        fh.write("a,b,c\nd,e,f\ng,h\n")  # the short row is skipped
    out = str(tmp_path / "main_out")
    rc = cli.main([
        src, out, "--format", "csv", "--columns", "3", "--key-cols", "0",
        "--sink", "hfile",
    ])
    assert rc == 0
    assert glob.glob(os.path.join(out, "region-*", "c", "*.hfile"))
    assert not glob.glob(os.path.join(out, "*.parquet"))
    assert "ingest: 3 records in, 2 valid, 1 skipped" in capsys.readouterr().err


def _table_cells(out):
    import glob

    from hbase_bulkload_spark.sources import hfile as hf

    return [
        [(r.decode(), f.decode(), q.decode(), v.decode())
         for r, f, q, _ts, v in hf.iter_hfile(p)]
        for p in sorted(glob.glob(os.path.join(out, "region-*", "c", "*.hfile")))
    ]


def test_cli_hfile_sink_qualifier_byte_order(spark, tmp_path):
    """12 columns through the HFile sink: each row's cells come out in
    qualifier byte order, so z10 and z11 sort before z2."""
    src = str(tmp_path / "q12_src")
    os.makedirs(src)
    with open(os.path.join(src, "p.csv"), "w") as fh:
        for i in range(20):
            fh.write(",".join(f"r{i}c{j}" for j in range(12)) + "\n")
    out = str(tmp_path / "q12_out")
    cli.ingest(spark, src, out, fmt="csv", n_columns=12, sink="hfile")
    want = sorted(f"z{j}" for j in range(12))
    assert want[:4] == ["z0", "z1", "z10", "z11"]
    rows: dict[str, list[str]] = {}
    for cells in _table_cells(out):
        for rk, _f, q, _v in cells:
            rows.setdefault(rk, []).append(q)
    assert len(rows) == 20
    assert all(qs == want for qs in rows.values())


def test_cli_hfile_sink_null_and_empty_fields(spark, tmp_path):
    """Null fields produce no cell through the HFile sink; empty strings
    are values and produce a cell."""
    import json

    src = str(tmp_path / "nulls_src")
    os.makedirs(src)
    with open(os.path.join(src, "p.json"), "w") as fh:
        fh.write(json.dumps({"z0": "a", "z1": "b", "z2": None, "z3": ""}) + "\n")
        fh.write(json.dumps({"z0": "c", "z1": "d", "z3": "x"}) + "\n")
    out = str(tmp_path / "nulls_out")
    cli.ingest(
        spark, src, out, fmt="jsonl", n_columns=4, key_cols=[0, 1], sink="hfile"
    )
    got = {(v, q) for cells in _table_cells(out) for _rk, f, q, v in cells}
    assert {f for cells in _table_cells(out) for _rk, f, _q, _v in cells} == {"c"}
    assert got == {("a", "z0"), ("b", "z1"), ("", "z3"),
                   ("c", "z0"), ("d", "z1"), ("x", "z3")}


def _spread_csv(path, n_rows, seed=5):
    """3-column CSV lines of random length, every 50th short (skipped by
    the arity gate); returns (bytes, n_valid)."""
    import random

    rng = random.Random(seed)
    lines, n_valid = [], 0
    for i in range(n_rows):
        fields = [str(i)] + ["v" * rng.randrange(1, 60) for _ in range(2)]
        if i % 50 == 0:
            fields = fields[:2]
        else:
            n_valid += 1
        lines.append(",".join(fields))
    data = ("\n".join(lines) + "\n").encode()
    with open(path, "wb") as fh:
        fh.write(data)
    return data, n_valid


def test_ingest_csv_scan_splits_exact_counts(spark, tmp_path):
    """A CSV planned into several scan splits, with lines straddling
    every split offset, counts each line once: n_input, n_valid and the
    loaded cells are exact. The run reports its sizing: the input's
    bytes, the scan tasks Spark planned, the write tasks."""
    src = str(tmp_path / "in.csv")
    data, n_valid = _spread_csv(src, 30_000)
    out = str(tmp_path / "table")
    m = cli.ingest(
        spark, src, out, fmt="csv", n_columns=3, key_cols=[0], sink="hfile",
        collect_metrics=True,
    )
    assert m["input_bytes"] == len(data)
    tasks = spark.sparkContext.defaultParallelism * TASKS_PER_CORE
    assert m["write_tasks"] == min(16, tasks)
    # Spark's maxSplitBytes under the sized confs (far below the cap)
    split = max(cli.SCAN_SPLIT_FLOOR, (len(data) + cli.SCAN_SPLIT_FLOOR) // tasks)
    offsets = range(split, len(data), split)
    assert len(offsets) >= 1  # ≥ 2 splits
    assert all(data[o - 1] != ord("\n") for o in offsets)  # mid-line cuts
    assert m["scan_tasks"] == len(offsets) + 1
    with cli._scan_splits(spark):
        assert spark.read.text(src).rdd.getNumPartitions() == m["scan_tasks"]
    assert (m["n_input"], m["n_valid"]) == (30_000, n_valid)
    assert m["n_skipped"] == 30_000 - n_valid
    assert sum(len(cells) for cells in _table_cells(out)) == 3 * n_valid


def test_ingest_small_csv_is_one_scan_task(spark, tmp_path):
    """An input below the split floor stays one scan task; the formats
    whose scan is not sized here report no scan sizing."""
    src = str(tmp_path / "in.csv")
    data, _ = _spread_csv(src, 200)
    assert len(data) < cli.SCAN_SPLIT_FLOOR
    kwargs = dict(n_columns=3, key_cols=[0], sink="hfile", collect_metrics=True)
    m = cli.ingest(spark, src, str(tmp_path / "t"), fmt="csv", **kwargs)
    assert (m["scan_tasks"], m["input_bytes"]) == (1, len(data))
    jsonl = str(tmp_path / "in_jsonl")
    spark.createDataFrame([("a", "b", "c")], "z0 string, z1 string, z2 string").write.json(jsonl)
    m = cli.ingest(spark, jsonl, str(tmp_path / "j"), fmt="jsonl", **kwargs)
    assert (m["input_bytes"], m["scan_tasks"]) == (None, None)


def test_hfile_write_tasks_follow_cores(spark, tmp_path, monkeypatch):
    """At local[2]'s default parallelism the HFile sink writes with
    2 × TASKS_PER_CORE tasks, and the table still has one whole HFile
    per region: 16 files, none split at load."""
    import glob

    from pyspark import SparkContext

    monkeypatch.setattr(SparkContext, "defaultParallelism", property(lambda _: 2))
    src = str(tmp_path / "in.csv")
    _spread_csv(src, 4_000)
    out = str(tmp_path / "table")
    sc = spark.sparkContext
    sc.setJobGroup("hfile-write-tasks", "write stage shape")
    try:
        m = cli.ingest(
            spark, src, out, fmt="csv", n_columns=3, key_cols=[0], sink="hfile",
            collect_metrics=True,
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert m["write_tasks"] == 2 * TASKS_PER_CORE
    jobs = sc.statusTracker().getJobIdsForGroup("hfile-write-tasks")
    write_stage = max(s for j in jobs for s in sc.statusTracker().getJobInfo(j).stageIds)
    assert sc.statusTracker().getStageInfo(write_stage).numTasks == 2 * TASKS_PER_CORE
    loaded = glob.glob(os.path.join(out, "region-*", "c", "*.hfile"))
    assert len({os.path.dirname(p) for p in loaded}) == len(loaded) == 16
    assert not [p for p in loaded if p.endswith((".bottom.hfile", ".top.hfile"))]


def test_ingest_restores_file_confs(spark, tmp_path, monkeypatch):
    """The scan split confs hold the sized values during the action and
    their prior values after it (unset stays unset), also when the
    action raises."""
    from hbase_bulkload_spark.operators import hfile_load as hl

    keys = (cli.OPEN_COST_BYTES, cli.MIN_PARTITION_NUM)
    sized = {
        cli.OPEN_COST_BYTES: str(cli.SCAN_SPLIT_FLOOR),
        cli.MIN_PARTITION_NUM: str(spark.sparkContext.defaultParallelism * TASKS_PER_CORE),
    }
    before = {k: spark.conf.get(k, None) for k in keys}
    assert before[cli.MIN_PARTITION_NUM] is None
    src = str(tmp_path / "in.csv")
    _spread_csv(src, 20_000)
    kwargs = dict(fmt="csv", n_columns=3, key_cols=[0], sink="hfile", collect_metrics=True)
    cli.ingest(spark, src, str(tmp_path / "t1"), **kwargs)
    assert {k: spark.conf.get(k, None) for k in keys} == before

    during = {}

    def fail(*args, **kw):
        during.update({k: spark.conf.get(k) for k in keys})
        raise RuntimeError("write failed")

    monkeypatch.setattr(hl, "bulkload_to_table", fail)
    spark.conf.set(cli.MIN_PARTITION_NUM, "3")
    try:
        with pytest.raises(RuntimeError, match="write failed"):
            cli.ingest(spark, src, str(tmp_path / "t2"), **kwargs)
        assert during == sized
        assert spark.conf.get(cli.MIN_PARTITION_NUM) == "3"
        assert spark.conf.get(cli.OPEN_COST_BYTES, None) == before[cli.OPEN_COST_BYTES]
    finally:
        spark.conf.unset(cli.MIN_PARTITION_NUM)
