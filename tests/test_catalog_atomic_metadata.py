"""Metadata-commit robustness (round-3 ADVICE): snapshot/manifest JSON is
committed via temp-file + rename, and the snapshot log tolerates stray
files — a crash mid-dump or leftover editor/tmp debris must never make
the table unreadable or break later commits."""

from __future__ import annotations

import json
import os

import pytest

from inclusionreferenceskg_spark.sources.catalog import Catalog


def test_stray_files_in_snapshot_dir_ignored(spark, tmp_path_factory):
    work = str(tmp_path_factory.mktemp("snapdir"))
    cat = Catalog(work)
    df = spark.createDataFrame([("u1", "a"), ("u2", "b")],
                               "url string, val string")
    cat.write("t", df, bucket_url="url")

    d = cat._snapshot_dir("t")
    # debris: in-flight atomic tmp, editor temp, macOS junk, nonsense
    for fn in ("v2.json.tmp.999", "v3.json~", ".DS_Store", "weird.txt"):
        with open(os.path.join(d, fn), "w") as f:
            f.write("{ trunc")

    # reads resolve through the latest WELL-FORMED snapshot
    assert cat.read(spark, "t").count() == 2
    assert cat._snapshot_versions("t") == [1]

    # and the next commit numbers itself correctly past the debris
    df2 = spark.createDataFrame([("u3", "c")], "url string, val string")
    cat.write("t", df2, bucket_url="url", mode="append")
    assert cat._snapshot_versions("t") == [1, 2]
    assert cat.read(spark, "t").count() == 3
    # the snapshot log (irkg status output) skips the debris too
    assert [h["version"] for h in cat.history("t")] == [1, 2]


def test_metadata_commit_leaves_no_partial_json(spark, tmp_path_factory):
    work = str(tmp_path_factory.mktemp("atomic"))
    cat = Catalog(work)
    df = spark.createDataFrame([("u1", "a")], "url string, val string")
    cat.write("t", df, bucket_url="url")
    cat.write("t", df, bucket_url="url", mode="append")
    # every metadata file on disk parses (atomic rename: a reader can
    # never observe a half-written manifest or snapshot)
    lineage = os.path.join(work, "_lineage")
    seen = 0
    for dirpath, _dirs, files in os.walk(lineage):
        for fn in files:
            assert fn.endswith(".json"), fn  # no leftover .tmp files
            with open(os.path.join(dirpath, fn)) as f:
                json.load(f)
            seen += 1
    assert seen >= 3  # manifest + 2 snapshots


def test_unknown_write_mode_refused_before_any_write(spark,
                                                     tmp_path_factory):
    work = str(tmp_path_factory.mktemp("badmode"))
    cat = Catalog(work)
    df = spark.createDataFrame([("u1", "a")], "url string, val string")
    cat.write("t", df, bucket_url="url")
    with pytest.raises(ValueError, match="overwrite"):
        cat.write("t", df, bucket_url="url", mode="ignore")
    assert cat._snapshot_versions("t") == [1]
    assert cat.read(spark, "t").count() == 1
