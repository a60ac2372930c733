"""EIA fixture parity (SURVEY.md §5.2 item 4, FIXTURES.md F1): a
synthetic clone of the reference's bundled
`/root/reference/src/main/resources/iouzipcodes2011.csv` (37,791
header-less rows: zip, eiaid, utility_name, state, service_type,
ownership, comm_rate, ind_rate, res_rate) is pushed through the CLI CSV
pipeline, and every contract the reference mapper implies is asserted
against an INDEPENDENT pure-Python emulation of the Java dataflow
(`BulkImporterFromCSVText.java:54-66`): Java `split(",")` semantics
(trailing empties dropped), the arity gate, the 4-field composite MD5
rowkey (`RowKeyConverter.java:13-30`), one cell per field, and the
bulk-load output contract (hex buckets, per-file sort). Version/TTL
semantics (`create_table.rb:1`) are exercised on the resulting
EIA-shaped cells via a two-wave re-ingest.
"""

from __future__ import annotations

import hashlib
import os

import pytest
from pyspark.sql import functions as F

from hbase_bulkload_spark import cli

N_ROWS = 40_000
STATES = ["CA", "TX", "NY", "FL", "PA", "AL", "OH", "GA", "NC", "MI",
          "WA", "VA", "NJ", "IL", "AZ"]
SERVICE = ["Bundled", "Delivery", "Energy"]
OWNERSHIP = ["Investor Owned", "Municipal", "Cooperative", "Federal"]

MALFORMED_MOD = 101  # ~1%: alternating 8-field / 10-field rows
EMPTY_LAST_MOD = 97  # ~1%: empty res_rate -> Java drops the row
EMPTY_MID_MOD = 89   # ~1%: empty ind_rate -> kept, "" cell


def _rate(i: int, salt: str) -> str:
    """Deterministic float-as-string rate in [0, 0.3)."""
    h = int(hashlib.md5(f"{salt}|{i}".encode()).hexdigest()[:8], 16)
    return f"0.{h % 300000000:09d}"


def _row(i: int) -> list[str]:
    zip5 = f"{10000 + (i * 7919) % 25000:05d}"  # ~25k distinct zips
    eiaid = str(100 + (i * 31) % 150)           # ~150 utilities
    utility = f"Utility {eiaid} Co"
    state = STATES[(i * i) % 45 % len(STATES)]  # skewed-ish
    return [
        zip5, eiaid, utility, state,
        SERVICE[i % len(SERVICE)],
        OWNERSHIP[i % len(OWNERSHIP)],
        _rate(i, "comm"), _rate(i, "ind"), _rate(i, "res"),
    ]


def _lines() -> list[str]:
    out = []
    for i in range(N_ROWS):
        f = _row(i)
        if i % MALFORMED_MOD == 0:
            f = f[:8] if (i // MALFORMED_MOD) % 2 == 0 else f + ["extra"]
        elif i % EMPTY_LAST_MOD == 0:
            f[8] = ""
        elif i % EMPTY_MID_MOD == 0:
            f[7] = ""
        out.append(",".join(f))
    return out


def _java_split(line: str) -> list[str]:
    """Java `String.split(",")`: trailing empty strings removed."""
    parts = line.split(",")
    while parts and parts[-1] == "":
        parts.pop()
    return parts


def _ref_rowkey(fields: list[str]) -> str:
    """RowKeyConverter.makeRowKey as hex: 4 concatenated MD5 digests."""
    return "".join(hashlib.md5(f.encode()).hexdigest() for f in fields[:4])


@pytest.fixture(scope="module")
def eia(tmp_path_factory):
    d = tmp_path_factory.mktemp("eia")
    src = str(d / "iou_zipcodes_clone")
    os.makedirs(src)
    lines = _lines()
    with open(os.path.join(src, "part-00000.csv"), "w") as fh:
        fh.write("\n".join(lines) + "\n")
    # the independent expectation: the Java mapper's view of the file
    valid = [f for f in map(_java_split, lines) if len(f) == 9]
    return {"src": src, "lines": lines, "valid": valid}


@pytest.fixture(scope="module")
def ingested(spark, eia, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("eia_out") / "cells")
    cli.ingest(spark, eia["src"], out, fmt="csv")
    return spark.read.parquet(out)


def test_fixture_shape(eia):
    """The clone matches F1's stated shape: ~40k rows, ~1% malformed,
    ~1% empty-field rows, ~25k zips, ~150 utilities."""
    n_mal = sum(1 for ln in eia["lines"] if len(_java_split(ln)) != 9)
    assert N_ROWS * 0.01 <= n_mal <= N_ROWS * 0.03
    assert 20_000 <= len({f[0] for f in eia["valid"]}) <= 25_000
    assert len({f[1] for f in eia["valid"]}) == 150


def test_cell_count_parity(spark, eia, ingested):
    """Cells == 9 per Java-valid row: the mapper writes one Put per
    valid row with one column per field (empty strings included —
    `p.addColumn` is unconditional after the split)."""
    assert ingested.count() == 9 * len(eia["valid"])


def test_rowkey_parity(spark, eia, ingested):
    """The distinct rowkey set equals the reference's, computed
    independently in pure Python over the same file (golden
    cross-check of the 4-field composite MD5)."""
    expected = {_ref_rowkey(f) for f in eia["valid"]}
    got = {r.rowkey for r in ingested.select("rowkey").distinct().collect()}
    assert got == expected


def test_value_parity_sample(spark, eia, ingested):
    """Spot-check full cell payloads for a deterministic sample of
    keys: qualifier->value maps match the Java mapper's fields."""
    sample = [f for f in eia["valid"][::5000]]
    for f in sample:
        rk = _ref_rowkey(f)
        cells = {
            r.qualifier: r.value
            for r in ingested.filter(F.col("rowkey") == rk).collect()
        }
        assert cells == {f"z{i}": f[i] for i in range(9)}


def test_bucket_and_sort_contract(spark, ingested, eia, tmp_path_factory):
    """Bulk-load output contract on the EIA clone: bucket = first hex
    char of the rowkey, and cells are (rowkey, qualifier)-sorted within
    every output file (the PutSortReducer/HFile invariant)."""
    bad = ingested.filter(F.substring("rowkey", 1, 1) != F.col("bucket")).count()
    assert bad == 0
    from pyspark.sql import Window

    df = ingested.withColumn("_file", F.input_file_name())
    w = Window.partitionBy("_file").orderBy(F.monotonically_increasing_id())
    cur = F.concat_ws("\x00", "rowkey", "qualifier")
    violations = df.select((F.lag(cur).over(w) > cur).alias("bad")).filter("bad").count()
    assert violations == 0


def test_version_ttl_semantics_on_eia(spark, ingested):
    """VERSIONS => 3 / current-vs-history on EIA-shaped cells: a second
    ingest wave with updated rates supersedes the first — the latest
    version lands in family 'c', the superseded one in 'h', and
    keep-3 retains both (create_table.rb:1 semantics)."""
    from hbase_bulkload_spark.operators import semantics

    base = ingested.select("rowkey", "qualifier", "value").limit(1000)
    wave1 = base.withColumn("ts", F.to_timestamp(F.lit("2026-01-01")))
    wave2 = base.withColumn("value", F.concat(F.col("value"), F.lit("_v2"))).withColumn(
        "ts", F.to_timestamp(F.lit("2026-02-01"))
    )
    cells = wave1.unionAll(wave2)
    kept = semantics.keep_latest_versions(
        cells, ["rowkey", "qualifier"], n=3, tiebreak=["value"]
    )
    assert kept.count() == cells.count()  # 2 versions/cell, cap is 3
    fam = semantics.current_vs_history(
        cells, ["rowkey", "qualifier"], tiebreak=["value"]
    )
    cur = fam.filter("family = 'c'")
    assert cur.count() == base.count()
    assert cur.filter(~F.col("value").endswith("_v2")).count() == 0
    # TTL at 90 days from the max ts keeps both waves; a 20-day horizon
    # expires wave1
    assert semantics.ttl_filter(cells, days=90).count() == cells.count()
    assert semantics.ttl_filter(cells, days=20).count() == base.count()
