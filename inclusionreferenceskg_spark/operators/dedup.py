"""Deduplication operators for web-scale training-data pipelines.

Four families, all pure DataFrame code (JVM-side, shuffle-conscious) with
DuckDB-translatable semantics so every variant has a first-class oracle:

* exact       — hash-groupBy on normalized content (one shuffle);
* MinHash+LSH — word-shingles -> P portable min-hashes -> banded bucket
  self-join (candidate pairs without any O(n²) comparison);
* SimHash     — B-bit sign-aggregated token hashes, bucket join on the
  resulting signature;
* n-gram Jaccard — exact set similarity, but only within LSH candidate
  buckets (never all-pairs).

The portable 64-bit hash is ``conv(substring(md5(x),1,15),16,10)`` (DuckDB:
``cast('0x'||substring(md5(x),1,15) as bigint)``), so Spark and the oracle
agree bit-for-bit.  At 100 TB the self-joins shuffle on band/bucket keys;
hot buckets (boilerplate pages) are handled by AQE skew-join plus the
standard cap: drop buckets larger than ``max_bucket`` (flagged, not silent).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from inclusionreferenceskg_spark.operators.kg import pair_components
from inclusionreferenceskg_spark.operators.textstats import hash64, norm_text

SHINGLE_K = 3
N_PERM = 8
BAND_R = 2
SIMHASH_BITS = 16


def exact_duplicates(documents: DataFrame) -> DataFrame:
    """Exact dedup groups on normalized text: one row per duplicate group
    with the canonical (min) doc_id and the group size."""
    h = F.md5(norm_text(F.col("text")))
    return (documents
            .select(F.col("doc_id"), h.alias("text_hash"))
            .groupBy("text_hash")
            .agg(F.min("doc_id").alias("keep_doc_id"),
                 F.count("*").alias("n_copies"))
            .filter(F.col("n_copies") >= 1))


def keep_best_canonical(documents: DataFrame) -> DataFrame:
    """Exact-dedup canonicalization that keeps the BEST copy per duplicate
    group instead of an arbitrary one: the longest document (max
    ``n_chars``), ties broken by min ``doc_id``.  The arg-max rides a
    lexicographic ``max(struct(n_chars, -doc_id))`` inside a single hash
    aggregation — full map-side combine, no join-back and no window (a
    window over a hot boilerplate hash would sort the entire group in one
    task).  This is the training-data twin of the reference's "one
    canonical node per equivalence class" merge rule (reference
    ``kg_creation/knowledge_graph.py:64`` ``merge``) applied at corpus
    scale."""
    h = F.md5(norm_text(F.col("text")))
    best = F.max(F.struct(F.col("n_chars").alias("n_chars"),
                          (-F.col("doc_id")).alias("neg_id")))
    return (documents
            .select(h.alias("text_hash"), "doc_id", "n_chars")
            .groupBy("text_hash")
            .agg(best.alias("b"), F.count("*").alias("group_size"))
            .select((-F.col("b.neg_id")).alias("keep_doc_id"),
                    F.col("b.n_chars").alias("n_chars"),
                    F.col("group_size")))


def _shingle_array():
    """Column expr: the k-word shingle array of the normalized text."""
    return F.expr(
        f"transform(sequence(1, greatest(size(split(trim(regexp_replace("
        f"lower(text), '\\\\s+', ' ')), ' ')) - {SHINGLE_K - 1}, 1)), "
        f"i -> concat_ws(' ', slice(split(trim(regexp_replace(lower(text), "
        f"'\\\\s+', ' ')), ' '), i, {SHINGLE_K})))")


def minhash_signatures(documents: DataFrame,
                       n_perm: int = N_PERM) -> DataFrame:
    """P min-hashes per document, computed entirely inside whole-stage
    codegen: ``array_min(transform(shingles, hash))`` per permutation over
    the per-row shingle array — a narrow map with NO shuffle (the previous
    explode+groupBy shuffled |docs|x|shingles| rows).  Values are identical
    (min over the same distinct-shingle hashes)."""
    def mh(p: int):
        pre = F.lit(f"{p}:")
        # NB single-parameter lambda: a second parameter would be bound to
        # the array index by transform()
        return F.array_min(F.transform(
            F.col("sh_arr"),
            lambda s: hash64(F.concat(pre, s)))).alias(f"mh{p}")

    # two-step projection so the (expensive) shingle array is computed once
    # per row; CollapseProject keeps multiply-referenced non-cheap aliases
    # in their own project.  Null-text docs are dropped (matching the old
    # explode+groupBy semantics — an all-null signature row would otherwise
    # put every empty page into one LSH bucket per band downstream).
    with_arr = documents.filter(F.col("text").isNotNull()).select(
        "doc_id", F.array_distinct(_shingle_array()).alias("sh_arr"))
    return with_arr.select("doc_id", *[mh(p) for p in range(n_perm)])


def minhash_lsh_pairs(documents: DataFrame, n_perm: int = N_PERM,
                      band_r: int = BAND_R,
                      max_bucket: int = 50) -> DataFrame:
    """Candidate near-duplicate pairs via banded LSH over the minhash
    signature: docs sharing any band bucket.  Buckets larger than
    ``max_bucket`` are dropped (boilerplate guard — logged via the
    ``oversize`` marker rather than silently)."""
    sig = minhash_signatures(documents, n_perm)
    # one pass over the signature table: explode an array of (band, bucket)
    # structs instead of a per-band union (a union re-evaluates the
    # shingle+groupBy subtree once per band)
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(F.concat_ws("_", *[
                F.col(f"mh{i}").cast("string")
                for i in range(b * band_r, (b + 1) * band_r)]))
            .alias("bucket"))
        for b in range(n_perm // band_r)
    ]
    # the shingle+minhash signature stage is the expensive subtree and is
    # referenced FOUR times downstream (cap agg, cap probe, both self-join
    # sides); persist the narrow (doc_id, band, bucket) table so it is
    # computed once — same policy as simhash_pairs's sig.cache().  persist
    # (lazy), NOT localCheckpoint: under AQE the RDD conversion executes
    # the subtree's query stages AT PLAN BUILD (caught by
    # test_no_driver_job_at_plan_build).
    buckets = (sig
               .select("doc_id",
                       F.explode(F.array(*band_structs)).alias("bb"))
               .select("doc_id", F.col("bb.band").alias("band"),
                       F.col("bb.bucket").alias("bucket"))
               .persist())
    # bucket-size cap via groupBy-count + equi-join on the under-cap keys
    # (NOT count-over-window: a window shuffles every row of a hot
    # boilerplate bucket into ONE sort task, while groupBy does map-side
    # partial aggregation and the join is AQE-skew-splittable — same
    # skew-safe pattern as the linker blocking, kg.py).
    ok_keys = (buckets.groupBy("band", "bucket")
               .agg(F.count("*").alias("bucket_size"))
               .filter(F.col("bucket_size") <= max_bucket)
               .select("band", "bucket"))
    ok = buckets.join(ok_keys, ["band", "bucket"])
    a = ok.select("band", "bucket", F.col("doc_id").alias("a"))
    b = ok.select("band", "bucket", F.col("doc_id").alias("b"))
    return (a.join(b, ["band", "bucket"])
            .filter(F.col("a") < F.col("b"))
            .select("a", "b")
            .distinct())


def simhash_signatures(documents: DataFrame,
                       bits: int = SIMHASH_BITS) -> DataFrame:
    """B-bit SimHash over word tokens: per bit, sign of the sum of
    (+1 / -1) contributions from each token's hash bit."""
    toks = (documents
            .filter(F.col("text").isNotNull())
            .select("doc_id", F.explode(F.array_distinct(
                F.split(norm_text(F.col("text")), r" "))).alias("tok"))
            .withColumn("h", hash64(F.col("tok"))))
    bit_sums = [
        F.sum(F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1,
                     1).otherwise(-1)).alias(f"s{i}")
        for i in range(bits)
    ]
    summed = toks.groupBy("doc_id").agg(*bit_sums)
    sim = None
    for i in range(bits):
        term = F.when(F.col(f"s{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return summed.select("doc_id", sim.cast("bigint").alias("simhash"))


SIMHASH64_BANDS = 4          # 4 x 16-bit bands over the 64-bit signature
SIMHASH64_BAND_BITS = 16


def simhash64_bands(documents: DataFrame) -> DataFrame:
    """64-bit SimHash, materialized directly as its 4 x 16-bit band values
    (``b0..b3`` — band j covers signature bits [16j, 16j+16)).

    The 64 bit-planes come from two independent 60-bit portable hashes per
    token (``L:``/``H:`` prefixes), 32 low bits of each, so Spark and the
    DuckDB oracle agree bit-for-bit.  Null-text documents are filtered out
    (they have no tokens; emitting an all-zero signature would glue every
    empty page into one quadratic bucket)."""
    toks = (documents
            .filter(F.col("text").isNotNull())
            .select("doc_id", F.explode(F.array_distinct(
                F.split(norm_text(F.col("text")), r" "))).alias("tok"))
            .withColumn("h_lo", hash64(F.concat(F.lit("L:"), F.col("tok"))))
            .withColumn("h_hi", hash64(F.concat(F.lit("H:"), F.col("tok")))))
    bit_sums = []
    for i in range(64):
        src = "h_lo" if i < 32 else "h_hi"
        sh = i % 32
        bit_sums.append(
            F.sum(F.when(F.shiftright(F.col(src), sh)
                         .bitwiseAND(F.lit(1)) == 1, 1)
                  .otherwise(-1)).alias(f"s{i}"))
    summed = toks.groupBy("doc_id").agg(*bit_sums)
    band_cols = []
    for j in range(SIMHASH64_BANDS):
        band = None
        for i in range(SIMHASH64_BAND_BITS):
            bit = j * SIMHASH64_BAND_BITS + i
            term = (F.when(F.col(f"s{bit}") > 0, F.lit(1 << i))
                    .otherwise(F.lit(0)))
            band = term if band is None else band + term
        band_cols.append(band.cast("int").alias(f"b{j}"))
    return summed.select("doc_id", *band_cols)


def simhash_pairs(documents: DataFrame,
                  max_hamming: int = 3,
                  max_bucket: int = 50) -> DataFrame:
    """Near-duplicate candidates via Hamming-band LSH over the 64-bit
    SimHash: by pigeonhole, any pair within Hamming distance 3 agrees
    exactly on at least one of the 4 16-bit bands, so candidates are the
    per-band equality-join buckets (never an all-pairs product; a 16-bit
    *total* signature equality join would be quadratic at web scale —
    65 536 buckets for 10^10 docs).  Candidates are then verified with the
    exact Hamming distance (xor + bit_count over the four bands).  Buckets
    above ``max_bucket`` are dropped (boilerplate guard, same policy as
    minhash LSH)."""
    # the signature aggregation (64 bit-plane sums over exploded tokens) is
    # the expensive subtree; cache it so the two self-join sides scan it
    # once instead of recomputing it per reference
    sig = simhash64_bands(documents).cache()
    band_structs = [
        F.struct(F.lit(j).alias("band"), F.col(f"b{j}").alias("val"))
        for j in range(SIMHASH64_BANDS)
    ]
    # each exploded (band, val) row CARRIES the full 4-band signature, so
    # the Hamming verify needs no second join back to the signatures
    buckets = (sig.select("doc_id", *[f"b{j}"
                                      for j in range(SIMHASH64_BANDS)],
                          F.explode(F.array(*band_structs)).alias("bb"))
               .select("doc_id", "b0", "b1", "b2", "b3",
                       F.col("bb.band").alias("band"),
                       F.col("bb.val").alias("val")))
    # groupBy-count + join, not count-over-window — see minhash_lsh_pairs
    ok_keys = (buckets.groupBy("band", "val")
               .agg(F.count("*").alias("bucket_size"))
               .filter(F.col("bucket_size") <= max_bucket)
               .select("band", "val"))
    ok = buckets.join(ok_keys, ["band", "val"])
    a = ok.select("band", "val", F.col("doc_id").alias("a"),
                  *[F.col(f"b{j}").alias(f"a{j}")
                    for j in range(SIMHASH64_BANDS)])
    b = ok.select("band", "val", F.col("doc_id").alias("b"),
                  *[F.col(f"b{j}").alias(f"bb{j}")
                    for j in range(SIMHASH64_BANDS)])
    hamming = None
    for j in range(SIMHASH64_BANDS):
        term = F.bit_count(F.expr(f"a{j} ^ bb{j}"))
        hamming = term if hamming is None else hamming + term
    return (a.join(b, ["band", "val"])
            .filter(F.col("a") < F.col("b"))
            .withColumn("hamming", hamming.cast("int"))
            .filter(F.col("hamming") <= max_hamming)
            .select("a", "b", "hamming")
            .distinct())


def ngram_jaccard_pairs(documents: DataFrame,
                        threshold: float = 0.5) -> DataFrame:
    """Exact shingle-set Jaccard, restricted to LSH candidate pairs (the
    verify step of MinHash dedup; never an all-pairs product)."""
    cands = minhash_lsh_pairs(documents)
    sets_ = (documents.select(
        "doc_id",
        F.array_distinct(F.expr(
            f"transform(sequence(1, greatest(size(split(trim("
            f"regexp_replace(lower(text), '\\\\s+', ' ')), ' ')) - "
            f"{SHINGLE_K - 1}, 1)), i -> concat_ws(' ', slice(split(trim("
            f"regexp_replace(lower(text), '\\\\s+', ' ')), ' '), i, "
            f"{SHINGLE_K})))")).alias("sh")))
    a = sets_.select(F.col("doc_id").alias("a"), F.col("sh").alias("sha_"))
    b = sets_.select(F.col("doc_id").alias("b"), F.col("sh").alias("shb_"))
    inter = F.size(F.array_intersect(F.col("sha_"), F.col("shb_")))
    union = F.size(F.array_union(F.col("sha_"), F.col("shb_")))
    return (cands.join(a, "a").join(b, "b")
            .withColumn("jaccard", F.round(inter / union, 6))
            .filter(F.col("jaccard") >= threshold)
            .select("a", "b", "jaccard"))


def neardup_clusters(documents: DataFrame,
                     threshold: float = 0.5) -> DataFrame:
    """Near-duplicate *clusters*: connected components over the
    jaccard-verified LSH pair graph -> one row per clustered document
    ``(doc_id, canon_id, cluster_size)``, canonical = min doc_id of the
    component (deterministic; mirrors the canonical-min policy of the KG
    entity canonicalization, knowledge_graph.py:193-217).

    The components come from the KG's engine, ``kg.pair_components``
    (driver union-find while the pair list fits under ``DRIVER_CUTOFF``,
    else distributed pointer doubling); this operator adds only the
    cluster size.  The pair graph is O(near-duplicates) — orders of
    magnitude smaller than the corpus, since LSH banding + the
    ``max_bucket`` boilerplate cap bound candidate generation.
    """
    cc = pair_components(ngram_jaccard_pairs(documents, threshold))
    return cc.select(F.col("id").alias("doc_id"), "canon_id",
                     F.count("*").over(Window.partitionBy("canon_id"))
                     .alias("cluster_size"))


def neardup_keep_best(documents: DataFrame,
                      threshold: float = 0.5) -> DataFrame:
    """The production endpoint of near-dup dedup: the SURVIVING corpus.
    Every near-dup cluster collapses to its best member (max ``n_chars``,
    ties → min ``doc_id``); documents in no cluster survive as themselves.
    Output ``(rep_id, rep_chars, n_members)``.

    Scale shape: the cluster table is O(near-duplicates) ≪ corpus, so the
    member join and the arg-max aggregation run on the small side; the
    survivors anti-join is corpus × small-right, which AQE plans as a
    broadcast anti join.  The arg-max is the same lexicographic struct max
    as ``keep_best_canonical`` — no window over a hot cluster id."""
    clusters = neardup_clusters(documents, threshold)
    docs = documents.select("doc_id", "n_chars")
    mem = clusters.select("doc_id", "canon_id").join(docs, "doc_id")
    best = (mem.groupBy("canon_id")
            .agg(F.max(F.struct(F.col("n_chars").alias("n_chars"),
                                (-F.col("doc_id")).alias("neg_id")))
                 .alias("b"),
                 F.count("*").alias("n_members"))
            .select((-F.col("b.neg_id")).alias("rep_id"),
                    F.col("b.n_chars").alias("rep_chars"),
                    F.col("n_members")))
    singles = (docs.join(clusters.select("doc_id"), "doc_id", "left_anti")
               .select(F.col("doc_id").alias("rep_id"),
                       F.col("n_chars").alias("rep_chars"),
                       F.lit(1).cast("bigint").alias("n_members")))
    return best.unionByName(singles)


# --- chunk-level exact dedup (the line/paragraph dedup of C4/CCNet) ---------

CHUNK_W = 20  # words per chunk; the paragraph analog for single-line docs


def _chunks_expr(width: int):
    """Column expr: the normalized text as an array of ``width``-word
    chunks — a narrow ``transform(sequence, slice)`` fully inside
    whole-stage codegen (the tail chunk may be shorter)."""
    return F.expr(
        f"transform(sequence(0, cast(ceil(size(split(trim(regexp_replace("
        f"lower(text), '\\\\s+', ' ')), ' ')) / {width}) as int) - 1), "
        f"i -> concat_ws(' ', slice(split(trim(regexp_replace(lower(text), "
        f"'\\\\s+', ' ')), ' '), i * {width} + 1, {width})))")


def chunk_dedup(documents: DataFrame, width: int = CHUNK_W) -> DataFrame:
    """Line/paragraph-level exact dedup, the sub-document stage every
    web-text pipeline runs before model training (C4 drops duplicate
    three-sentence spans; CCNet dedups on paragraph hashes).  The synthetic
    corpus is single-line, so the "paragraph" unit is a fixed ``width``-word
    chunk of the normalized text — the semantics (global first-occurrence
    wins, later occurrences dropped, document reassembled from its kept
    chunks) are exactly the production ones.

    Plan shape, sized for 100 TB:

    1. chunking is a narrow per-row ``transform(sequence(...), slice(...))``
       inside whole-stage codegen — no shuffle, no Python;
    2. first-occurrence is ``groupBy(hash).agg(min(rank))`` — ONE shuffle
       with map-side partial aggregation (a boilerplate chunk repeated 10^9
       times still contributes one row per map task);
    3. kept-occurrence test is an equi-join of the exploded chunks against
       that per-hash minimum — AQE skew-join splits hot boilerplate hashes;
    4. reassembly is ``groupBy(doc_id)`` over (pos, chunk) structs — one
       shuffle keyed by the uniform doc_id.

    Occurrence rank is ``doc_id * 2^20 + pos`` (pos < 2^20 asserted by
    construction at any real page size), totally ordering occurrences by
    (doc_id, pos) in a single BIGINT that DuckDB reproduces verbatim.
    Output: one row per document with chunk counts, the kept ratio, and the
    md5 of the reassembled kept text ('' when every chunk was seen earlier).
    """
    occ = (documents
           .select(F.col("doc_id"),
                   F.posexplode(_chunks_expr(width)).alias("pos", "chunk"))
           .select("doc_id", "pos", "chunk",
                   F.md5("chunk").alias("h"),
                   (F.col("doc_id") * F.lit(1 << 20) + F.col("pos"))
                   .alias("rnk")))
    firsts = occ.groupBy("h").agg(F.min("rnk").alias("first_rnk"))
    kept = (occ.join(firsts, "h")
            .withColumn("kept", F.col("rnk") == F.col("first_rnk")))
    return (kept.groupBy("doc_id")
            .agg(F.count("*").alias("n_chunks"),
                 F.sum(F.col("kept").cast("int")).alias("n_kept"),
                 F.md5(F.concat_ws(" ", F.transform(
                     F.array_sort(F.collect_list(F.when(
                         F.col("kept"),
                         F.struct(F.col("pos"), F.col("chunk"))))),
                     lambda s: s.chunk))).alias("kept_md5"))
            .withColumn("kept_ratio",
                        F.round(F.col("n_kept") / F.col("n_chunks"), 6))
            .select("doc_id", "n_chunks", "n_kept", "kept_ratio", "kept_md5"))


def boilerplate_by_source(documents: DataFrame,
                          width: int = CHUNK_W) -> DataFrame:
    """Per-source boilerplate diagnostic: the share of a source's chunk
    occurrences whose chunk also appears in at least one OTHER document of
    the same source (headers, navigation, license banners — the stuff
    C4/CCNet strip before training).  Web pipelines run exactly this table
    per host to decide which sites need template stripping.

    Scale shape: chunking is narrow (``_chunks_expr``); the only wide stage
    is ``groupBy(source, chunk-hash)`` with map-side combine — a chunk
    repeated across a million pages of one host still reduces to one row
    per map task before the shuffle; the per-source rollup then groups a
    table that is already ≤ |distinct chunks| on the uniform source key.
    """
    occ = documents.select(
        F.col("source"), F.col("doc_id"),
        F.explode(_chunks_expr(width)).alias("chunk"))
    per_hash = (occ
                .groupBy("source", F.md5("chunk").alias("h"))
                .agg(F.count("*").alias("n_occ"),
                     F.countDistinct("doc_id").alias("n_docs_with")))
    return (per_hash
            .groupBy("source")
            .agg(F.sum("n_occ").alias("n_chunks"),
                 F.sum(F.when(F.col("n_docs_with") >= 2, F.col("n_occ"))
                       .otherwise(F.lit(0))).alias("n_boiler"),
                 F.count("*").alias("n_distinct_chunks"))
            .withColumn("boiler_ratio",
                        F.round(F.col("n_boiler") / F.col("n_chunks"), 6))
            .select("source", "n_chunks", "n_distinct_chunks", "n_boiler",
                    "boiler_ratio"))


def incremental_new_docs(new_docs: DataFrame,
                         seen_hashes: DataFrame) -> DataFrame:
    """Cross-snapshot incremental dedup: the monthly-crawl refresh
    pattern — keep only new-snapshot documents whose normalized-text hash
    has never been seen in any prior snapshot.

    ``seen_hashes`` is a one-column (``text_hash``) table, typically the
    materialized output of ``exact_duplicates`` over all prior snapshots
    (the lineage-manifest catalog makes it a plain parquet scan).  The
    plan is a LEFT ANTI join on the hash — one shuffle each side, map-side
    combinable on neither but AQE-skew-splittable, and Spark broadcasts
    the seen side automatically when a young corpus keeps it small.  At
    10^12 documents the seen table is the big side; the anti join on the
    uniform md5 key is the canonical shape (a Bloom filter would only
    *pre*-filter the same join, trading false-positive re-checks for
    shuffle volume, and Spark 3.3+ injects exactly that runtime filter
    itself when beneficial).
    """
    hashed = new_docs.withColumn(
        "text_hash", F.md5(norm_text(F.col("text"))))
    return (hashed
            .join(seen_hashes.select("text_hash").distinct(),
                  "text_hash", "left_anti")
            .select("doc_id", "text_hash"))
