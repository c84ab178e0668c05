"""A commit's manifest comes from ONE aggregate over the written table
(per-partition count and per-partition XOR of row hashes, folded on the
driver); it must equal the two separate scans it replaced."""

from __future__ import annotations

import pytest
from pyspark.sql import Row, functions as F

from inclusionreferenceskg_spark.sources.catalog import Catalog


def _two_scan_manifest(out, cols):
    """The former two-query manifest: a per-partition count, then a
    table-wide bit_xor of xxhash64 over the non-map columns."""
    if cols:
        parts = {"/".join(f"{c}={r[c]}" for c in cols): r["rows"]
                 for r in out.groupBy(*cols)
                 .agg(F.count("*").alias("rows")).collect()}
    else:
        parts = {"": out.count()}
    hashable = [c for c, t in out.dtypes if not t.startswith("map")]
    checksum = out.agg(F.expr("bit_xor(xxhash64({}))".format(
        ", ".join(f"`{c}`" for c in hashable))).alias("c")).first()["c"]
    return parts, sum(parts.values()), str(checksum)


def _rows(spark, lo, hi):
    return spark.createDataFrame(
        [Row(url=f"https://ex.org/{i}",
             lang=None if i % 3 == 0 else ("en" if i % 2 else "de"),
             n=i, attrs={"k": str(i)}) for i in range(lo, hi)],
        "url string, lang string, n long, attrs map<string,string>")


@pytest.mark.parametrize("name, n, partition_by, bucket_url", [
    ("lang_with_null", 30, ("lang",), "url"),
    ("unpartitioned", 30, (), None),
    ("empty", 0, (), None),
    ("empty_partitioned", 0, ("lang",), "url"),
])
def test_manifest_equals_two_scans(spark, tmp_path, name, n, partition_by,
                                   bucket_url):
    cat = Catalog(str(tmp_path))
    out = cat.write(name, _rows(spark, 0, n), partition_by=partition_by,
                    bucket_url=bucket_url, n_buckets=4)
    manifest = cat.manifest(name)
    cols = list(partition_by) + (["url_bucket"] if bucket_url else [])
    parts, rows, checksum = _two_scan_manifest(out, cols)
    assert manifest["rows"] == rows == n
    assert manifest["checksum"] == checksum
    assert {p["partition"]: p["rows"]
            for p in manifest["partitions"]} == parts
    if n == 0:
        assert manifest["checksum"] == "None"
    if partition_by:
        assert any(p.startswith("lang=None") for p in parts) == (n > 0)
