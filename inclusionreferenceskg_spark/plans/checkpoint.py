"""Checkpointed pipeline: per-stage materialized tables + resume.

Each stage (nodes, qualifiers, resolved, graph, triples) commits to the
catalog with a lineage manifest; ``run_checkpointed`` skips any stage whose
manifest already exists, so a killed run resumes from the last completed
stage and produces byte-identical results (all stages are deterministic —
hash ids, min-id merge winners, no wall-clock anywhere in the dataflow).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from inclusionreferenceskg_spark.operators import kg as kg_ops
from inclusionreferenceskg_spark.operators.detect import build_qualifiers
from inclusionreferenceskg_spark.operators.parse import parse_pages
from inclusionreferenceskg_spark.operators.resolve import resolve_targets
from inclusionreferenceskg_spark.sources.catalog import Catalog


def run_checkpointed(spark: SparkSession, pages: DataFrame,
                     workdir: str, resume: bool = True) -> DataFrame:
    """pages -> triples with per-stage commit + resume; returns triples."""
    cat = Catalog(workdir)

    def stage(name, build, partition_by=(), bucket_url=None):
        if resume and cat.is_complete(name):
            return cat.read(spark, name)
        return cat.write(name, build(), partition_by=partition_by,
                         bucket_url=bucket_url)

    # the durable node/edge tables are partitioned by (lang, bucket(url))
    # — the Iceberg layout of the production design.  `lang` rides along
    # from the pages table via a url-keyed metadata join at write time
    # (column pruning keeps it out of every compute stage); partition
    # pruning then serves per-language reads without a full scan.
    lang_by_url = (pages.select("url", "lang")
                   if "lang" in pages.columns else None)
    lang_cols = ("lang",) if lang_by_url is not None else ()

    def with_lang(df: DataFrame) -> DataFrame:
        return (df.join(lang_by_url, "url", "left")
                if lang_by_url is not None else df)

    nodes = stage("nodes", lambda: with_lang(parse_pages(pages)),
                  partition_by=lang_cols, bucket_url="url")
    quals = stage("qualifiers", lambda: build_qualifiers(nodes))
    resolved = stage("resolved", lambda: resolve_targets(quals, nodes))
    wide = stage("graph_rows",
                 lambda: kg_ops.extract_graph(nodes, resolved))

    return stage("triples",
                 lambda: with_lang(kg_ops.graph_tail(wide, nodes)[3]),
                 partition_by=lang_cols, bucket_url="url")


def latest_per_url(pages: DataFrame) -> DataFrame:
    """Collapse a crawl snapshot to ONE row per url — the latest capture
    wins (``warc_ts``, then a full-row hash as the deterministic
    tie-break for identical timestamps).

    Crawl deliveries routinely carry several captures of the same url in
    one snapshot; the pipeline's determinism contract (byte-identical
    extracted text PER URL) requires a unique url key — without this,
    duplicated page rows fan out through the per-url node ids into a
    triple cross-product.  One map-side-combinable ``max_by``
    aggregation keyed on url, no window, no join.
    """
    cols = pages.columns
    others = [c for c in cols if c != "url"]
    key_parts = ([F.col("warc_ts")] if "warc_ts" in cols else []) + \
        [F.xxhash64(*[F.col(c) for c in cols]).alias("h")]
    return (pages.groupBy("url")
            .agg(F.max_by(F.struct(*others),
                          F.struct(*key_parts)).alias("r"))
            .select("url", "r.*"))


def _page_fps(pages: DataFrame) -> DataFrame:
    """Per-url content fingerprint (md5 of text; null-safe)."""
    return pages.select(
        "url", F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("fp"))


#: Spark writes null partition values as this sentinel directory name
#: (ExternalCatalogUtils.DEFAULT_PARTITION_NAME)
_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"

#: characters Spark escapes in partition directory names
#: (ExternalCatalogUtils.charToEscape, cloned from Hive FileUtils):
#: C0 controls, DEL, and "#%'*/:=?\{[]^
_ESCAPED = ({chr(i) for i in range(0x20)} | {chr(0x7F)}
            | set('"#%\'*/:=?\\{[]^'))


def _part_value(v) -> str:
    """Render one partition value exactly as Spark encodes it on disk —
    shadow-prefix construction must reproduce the real directory name or
    a changed url in (e.g.) a null-lang partition would not have its old
    files shadowed, leaving duplicate old+new rows in the new snapshot."""
    if v is None:
        return _HIVE_NULL
    if isinstance(v, bool):
        s = "true" if v else "false"
    else:
        s = str(v)
    return "".join(f"%{ord(ch):02X}" if ch in _ESCAPED else ch
                   for ch in s)


def _cow_upsert(spark: SparkSession, cat: Catalog, dcat: Catalog,
                name: str, changed: DataFrame, fresh: DataFrame,
                partition_by=()) -> DataFrame:
    """Copy-on-write at (partition, url_bucket) granularity: replace every
    row of a ``changed`` url in table ``name`` with the ``fresh`` rows
    (which may also introduce new urls).

    Protocol (crash-safe at every boundary — nothing is ever deleted):
      1. collect the partition pairs currently holding changed-url rows —
         bounded by the recrawl delta, an explicit small collect (the CC
         driver-fast-path policy);
      2. materialize survivors-from-those-partitions + fresh rows into a
         STAGED table under the delta sub-catalog (skipped if already
         committed, so a rerun after a crash reuses the pre-crash
         survivors instead of reading a half-rewritten main table);
      3. fast-append the staged table, SHADOWING the stale partitions'
         old files: they stay on disk but drop out of the new snapshot's
         file list, so every pre-upsert snapshot stays time-travelable
         (``Catalog.rollback`` undoes a bad recrawl in O(metadata)) until
         ``expire_snapshots`` vacuums them.
    A rerun recomputes the same changed set (the url_fps table commits
    LAST in ``run_upsert``), so every step replays into the same staged
    table and the end state is identical; a crash between the physical
    append and the snapshot commit leaves only orphan files, which reads
    never see and ``expire_snapshots`` garbage-collects.
    """
    part_cols = list(partition_by) + ["url_bucket"]
    staged_name = f"{name}_staged"
    if dcat.is_complete(staged_name):
        staged = dcat.read(spark, staged_name)
    else:
        existing = cat.read(spark, name)
        stale = (existing.join(changed, "url", "left_semi")
                 .select(*part_cols).distinct().collect())
        if stale:
            # explicit schema: inference would fail when a partition
            # value is null in every stale pair (e.g. only the null-lang
            # partition changed)
            pairs = F.broadcast(spark.createDataFrame(
                stale, existing.select(*part_cols).schema))
            # null-safe semi-join: a null partition value (Spark writes
            # it as __HIVE_DEFAULT_PARTITION__) must still match its own
            # stale pair, or the null partition's surviving rows would
            # silently drop out of the rewrite
            cond = None
            for c in part_cols:
                e = existing[c].eqNullSafe(pairs[c])
                cond = e if cond is None else cond & e
            keep = (existing.join(pairs, cond, "left_semi")
                    .join(changed, "url", "left_anti")
                    .drop("url_bucket"))
            merged = keep.unionByName(fresh)
        else:
            merged = fresh
        staged = dcat.write(staged_name, merged,
                            partition_by=partition_by, bucket_url="url")
    # stale pairs from the CURRENT snapshot: after a crash mid-commit
    # this covers exactly the partitions that still hold changed-url rows
    existing_now = cat.read(spark, name)
    # a staged table whose partition values are ALL null reads back with
    # a VOID partition column (Spark infers the type from the directory
    # values) — re-align with the main table's schema before the commit
    want = {f.name: f.dataType for f in existing_now.schema.fields}
    staged = staged.select(*[
        F.col(c).cast(want[c]).alias(c) if c in want else F.col(c)
        for c in staged.columns])
    stale_now = (existing_now.join(changed, "url", "left_semi")
                 .select(*part_cols).distinct().collect())
    root = cat.table_path(name)
    prefixes = [os.path.join(
        root, *(f"{c}={_part_value(p[c])}" for c in part_cols))
        + os.sep for p in stale_now]
    replaced = [f for f in cat._latest_files(name)
                if any(f.startswith(px) for px in prefixes)]
    return cat.write(name, staged.drop("url_bucket"),
                     partition_by=partition_by, bucket_url="url",
                     mode="append", replaced_files=replaced)


def run_upsert(spark: SparkSession, pages: DataFrame,
               workdir: str) -> DataFrame:
    """Recrawl upsert, the one crawl-refresh path: new urls are processed
    and appended; urls whose CONTENT changed (md5 fingerprint vs the
    committed url_fps table) are reprocessed and copy-on-write rewritten
    at partition granularity — unchanged urls are never touched, the
    table is never fully rewritten.

    Sound because every KG stage is url-scoped — parsing is per page,
    all four linkers key on ``(url, …)``, and the L3 reference join
    requires ``kn_url == target_url`` (`operators/kg.py`) — so a page's
    triples depend on that page alone and reprocessing only the delta is
    value-identical to a full rerun over the latest snapshot.  The delta
    pipeline runs in its own sub-catalog keyed by a deterministic hash
    of the changed-url set, so a killed upsert resumes into the same
    stage tables.  The url_fps table commits last: it is the transaction
    marker that makes the whole upsert idempotent under replay.
    """
    pages = latest_per_url(pages)
    cat = Catalog(workdir)
    if not cat.is_complete("triples"):
        out = run_checkpointed(spark, pages, workdir)
        cat.write("url_fps", _page_fps(pages), bucket_url="url")
        return out
    fps = _page_fps(pages)
    if cat.is_complete("url_fps"):
        old_fps = cat.read(spark, "url_fps").select("url", "fp")
    else:
        # table bootstrapped by plain run_checkpointed (no fingerprints
        # committed): nothing proves any url unchanged, so every
        # delivered url is conservatively treated as changed — one
        # full-cost upsert that commits url_fps and restores the cheap
        # fingerprint path for every later recrawl
        old_fps = spark.createDataFrame([], "url string, fp string")
    changed = (fps.join(old_fps, ["url", "fp"], "left_anti")
               .select("url").persist())
    probe = changed.agg(
        F.count("*").alias("n"),
        F.expr("bit_xor(xxhash64(url))").alias("h")).first()
    if probe["n"] == 0:
        changed.unpersist()
        return cat.read(spark, "triples")
    delta_dir = os.path.join(
        workdir, "increments", f"ups_{probe['h'] & 0xFFFFFFFFFFFF:012x}")
    delta_pages = pages.join(changed, "url", "left_semi")
    delta = run_checkpointed(spark, delta_pages, delta_dir)
    dcat = Catalog(delta_dir)
    lang_cols = ("lang",) if "lang" in delta.columns else ()

    out = _cow_upsert(spark, cat, dcat, "triples", changed,
                      delta.drop("url_bucket"), partition_by=lang_cols)
    fresh_fps = fps.join(changed, "url", "left_semi")
    if cat.is_complete("url_fps"):
        _cow_upsert(spark, cat, dcat, "url_fps", changed, fresh_fps)
    else:
        cat.write("url_fps", fresh_fps, bucket_url="url")
    # both table commits are done (writes are actions); free the delta
    # url cache so per-micro-batch upserts (run_stream_upsert) don't
    # accumulate one CacheManager entry per batch over a long stream
    changed.unpersist()
    return out
