"""Deduplication operators (SURVEY.md §2.C E3 — charter LLM-pipeline ops).

Four families, each a different cost/recall point, all bucketed (never
all-pairs) so the plan survives 100 TB:

- exact:    sha2(text) groupBy — one shuffle on the hash, keep min id.
- minhash:  shingle → k MinHash sigs → band buckets → candidate pairs
            (join on band key) → exact Jaccard verify. The classic
            LSH pipeline: candidate generation is a shuffle on band
            keys; only candidates are verified. Skewed buckets (boiler-
            plate shingles) are the known hazard — AQE skew-join or
            salting the band key handles it.
- simhash:  16-bit fingerprint, bucket by fingerprint (or fingerprint
            bands for hamming>0 tolerance).
- embedding: cosine near-dup over a blocking key (label/cluster id) —
            the brute-force-within-bucket baseline; the ANN module
            (operators/ann.py) is the scale path.

Hashes are the cross-engine polyhash (operators/text.py) so every stage
is oracle-checkable in DuckDB. MLlib's MinHashLSH implements the same
algorithm JVM-side; this SQL formulation is preferred because its
signatures are reproducible outside Spark.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from aeuc_vector_db_spark.functions.vector import built_once
from aeuc_vector_db_spark.operators.text import (
    jaccard_col,
    minhash_signature_col,
    shingle_hash_batches,
    shingle_hashes_pandas,
)


def exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact dedup: group identical texts by sha2, keep the smallest id.

    Returns (id_col, text_hash, dup_count) — one row per distinct text,
    keeper id = min(id). One shuffle on the 256-bit hash; at 100 TB the
    text itself never shuffles, only (hash, id) pairs.
    """
    hashed = df.select(F.col(id_col), F.sha2(F.col(text_col), 256).alias("text_hash"))
    return hashed.groupBy("text_hash").agg(
        F.min(id_col).alias(id_col),
        F.count(F.lit(1)).alias("dup_count"),
    )


def shingle_sets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
) -> DataFrame:
    """(id, sh) — distinct shingle-hash set per doc (empty for NULL text
    and docs with fewer than `shingle_n` tokens), one Arrow kernel pass
    per doc (`shingle_hash_batches`; its map stage binds the rows, so a
    filter on `sh` does not re-run the kernel).

    Lazy: every action re-runs the kernel. The MinHash operators read
    the sets through `minhash_doc_index` under a lazy local checkpoint
    instead, so each action shingles a doc once. Measured on a 4-vCPU
    host, a `minhash_near_dup` pass so checkpointed took 1.6–2.0 s over
    2k docs and 4.0–5.6 s over 20k, against 3.1–3.5 s and 13.4–14.7 s
    recomputing the kernel per branch, for ~0.5 KB of index blocks per
    doc, freed with the pass's frames."""
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    pairs = df.select(F.col(id_col), F.col(text_col))
    schema = StructType(
        [pairs.schema.fields[0], StructField("sh", ArrayType(LongType()))]
    )
    return pairs.mapInArrow(shingle_hash_batches(shingle_n), schema)


def _band_structs(k: int, band_size: int) -> Column:
    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    F.slice("sig", b * band_size + 1, band_size).alias("vals"),
                )
                for b in range(k // band_size)
            ]
        )
    ).alias("bk")


def _band_rows(
    sigs: DataFrame, id_col: str, k: int, band_size: int
) -> DataFrame:
    """(id, band, vals) — the LSH band explosion of a signature table.

    Map-side only (an explode over the stored sig array, no text
    access) — which is what makes the incremental path below cheap: a
    persisted (id, sig) index re-derives its band rows without ever
    touching the original documents."""
    return sigs.select(F.col(id_col), built_once(_band_structs, k, band_size)).select(
        id_col, F.col("bk.band").alias("band"), F.col("bk.vals").alias("vals")
    )


def _candidates_from_sigs(
    sigs: DataFrame, id_col: str, k: int, band_size: int,
    max_band_size: int | None = None, new: DataFrame | None = None,
) -> DataFrame:
    """Band-bucket join → candidate pairs (a_id, b_id), a_id < b_id,
    distinct: the candidate half of the one near-dup core that
    `minhash_near_dup`, `minhash_candidates` and
    `incremental_minhash_near_dup` share. `sigs` is the (id, sig) set
    to match in; `new`, a subset of it, keeps only pairs with a side in
    `new` (None: every pair).

    max_band_size bounds the hot-band hazard: a band bucket shared by n
    docs emits n(n−1)/2 pairs, so one boilerplate bucket (empty docs, a
    shared template) turns the join quadratic AND concentrates it on one
    reducer. Buckets over the cap (counted over all of `sigs`) are
    dropped from pair generation — the standard LSH treatment: a
    mega-bucket means near-identical boilerplate, which exact_dedup
    already groups in O(n) by full-text hash; pairwise verification
    inside it is quadratic work for no new information. AQE skew-join
    (on in session.py) splits the residual moderate skew. Default None
    = exact LSH semantics (oracle-checked queries use None; scale
    pipelines set a cap).

    Optimization round 16 examined and REVERTED a groupBy(band, vals) +
    collect_list + map-side pair-expansion form here. It existed to
    evaluate the upstream signature subtree once instead of twice; the
    callers now hand in a lazily checkpointed index, so both join sides
    read the same stored blocks and that duplication is gone at its
    source. The self-join also keeps the candidate subtree streamed
    atop its exchanges (the aggregate form's small size estimate had
    flipped it onto the broadcast side of the verify joins).
    """
    bands = _band_rows(sigs, id_col, k, band_size)
    probe = bands if new is None else _band_rows(new, id_col, k, band_size)
    if max_band_size is not None:
        keep = (
            bands.groupBy("band", "vals")
            .agg(F.count(F.lit(1)).alias("__bn__"))
            .filter(F.col("__bn__") <= max_band_size)
            .select("band", "vals")
        )
        bands = bands.join(keep, ["band", "vals"], "left_semi")
        probe = bands if new is None else probe.join(keep, ["band", "vals"], "left_semi")
    x, y = F.col("x"), F.col("y")
    return (
        probe.select(F.col(id_col).alias("x"), "band", "vals")
        .join(bands.select(F.col(id_col).alias("y"), "band", "vals"), ["band", "vals"])
        .filter(x < y if new is None else x != y)
        .select(F.least(x, y).alias("a_id"), F.greatest(x, y).alias("b_id"))
        .distinct()
    )


def _verified(
    pairs: DataFrame, index: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """(a_id, b_id, jaccard) — candidate pairs whose exact Jaccard over
    the stored `sh` sets of `index` is ≥ threshold: the verify half of
    the near-dup core. Only the candidate pairs are verified — never all
    pairs."""
    a_sets = index.select(F.col(id_col).alias("a_id"), F.col("sh").alias("a_sh"))
    b_sets = index.select(F.col(id_col).alias("b_id"), F.col("sh").alias("b_sh"))
    return (
        pairs.join(a_sets, "a_id")
        .join(b_sets, "b_id")
        .select("a_id", "b_id", jaccard_col(F.col("a_sh"), F.col("b_sh")).alias("jaccard"))
        .filter(F.col("jaccard") >= F.lit(threshold))
    )


def minhash_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    band_size: int = 2,
    shingle_n: int = 3,
    max_band_size: int | None = None,
) -> DataFrame:
    """LSH candidate pairs: docs sharing ≥1 MinHash band.

    Output: (a_id, b_id) with a_id < b_id, distinct. The join key is
    (band_index, band signature values) — a real bucketed plan: the
    corpus shuffles once on band keys, never crossJoins. The (id, sig)
    index is checkpointed lazily, so both join sides read one kernel
    pass per action.
    """
    sigs = minhash_doc_index(df, id_col, text_col, k, shingle_n).select(id_col, "sig")
    sigs = sigs.localCheckpoint(eager=False)
    return _candidates_from_sigs(sigs, id_col, k, band_size, max_band_size)


def minhash_near_dup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    k: int = 8,
    band_size: int = 2,
    shingle_n: int = 3,
    max_band_size: int | None = None,
) -> DataFrame:
    """Full MinHash-LSH near-dup: candidates → exact shingle-set Jaccard
    verify ≥ threshold. Returns (a_id, b_id, jaccard).

    The (id, sig, sh) `minhash_doc_index` is built once and checkpointed
    lazily: the band join reads its `sig`, the verify joins its `sh`,
    and the shingle kernel runs once per doc per action. The blocks are
    freed when the returned frame is garbage-collected. The candidate/verify core
    is the one `incremental_minhash_near_dup` runs; this is its case
    where every doc is new. max_band_size: see _candidates_from_sigs
    (hot-band cap for skewed corpora).
    """
    index = minhash_doc_index(df, id_col, text_col, k, shingle_n)
    index = index.localCheckpoint(eager=False)
    pairs = _candidates_from_sigs(index, id_col, k, band_size, max_band_size)
    return _verified(pairs, index, id_col, threshold)


def minhash_doc_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, sig, sh) — the PERSISTABLE dedup-index row set (round 11),
    one row per doc with at least one shingle.

    The expensive part of MinHash dedup is the text pass (tokenize +
    shingle + hash); everything after is arithmetic over the stored
    arrays. Materializing this table (parquet / a ManifestTable keyed
    by id) turns corpus dedup INCREMENTAL: a new batch dedups against
    the whole corpus via `incremental_minhash_near_dup` with the
    corpus's band rows derived MAP-SIDE from `sig` and its exact
    Jaccard verification served from `sh` — the corpus documents are
    never re-read, never re-shingled. Index size is O(corpus) in rows
    but only the shingle-hash arrays in bytes (no text). The kernel
    runs once per doc: the empty-set filter reads the bound rows of
    `shingle_sets`."""
    return shingle_sets(df, id_col, text_col, shingle_n).filter(F.size("sh") > 0).select(
        F.col(id_col), built_once(minhash_signature_col, "sh", k).alias("sig"), F.col("sh")
    )


def incremental_minhash_near_dup(
    batch: DataFrame,
    index: DataFrame,
    threshold: float = 0.5,
    k: int = 8,
    band_size: int = 2,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_band_size: int | None = None,
) -> DataFrame:
    """Near-dup pairs TOUCHING a new batch, against a prebuilt
    `minhash_doc_index` — the incremental form of `minhash_near_dup`
    (round 11): returns every (a_id, b_id, jaccard) with a_id < b_id,
    jaccard ≥ threshold, and at least one side in `batch` (batch-vs-
    corpus AND batch-internal pairs; corpus-internal pairs were the
    previous runs' output and are not recomputed).

    Scale shape: only the BATCH text is shingled (one Arrow kernel
    pass over the new documents); the corpus side is a map-side band
    explosion of the stored `sig` column plus a hash join on the band
    key, and verification joins the stored `sh` arrays — the corpus is
    never re-read as text. Identical semantics to running the batch
    path on (corpus ∪ batch) and keeping pairs that touch the batch —
    which is exactly what the DuckDB oracle recomputes, so the hash
    match proves the incremental plan loses nothing. `max_band_size`
    caps hot bands with counts over index ∪ batch (same boilerplate
    guard as `_candidates_from_sigs`)."""
    # checkpoint (lazy) so the batch is shingled ONCE per action — the
    # plan references new_index from many branches (band rows, cap
    # counts, both verification sides)
    new_index = minhash_doc_index(batch, id_col, text_col, k, shingle_n)
    new_index = new_index.localCheckpoint(eager=False)
    # re-ingest safety (round-12 ADVICE): a batch doc_id already present
    # in the index would otherwise union into duplicate (id, sig, sh)
    # rows and the verification joins would emit duplicate output pairs.
    # The BATCH version of a re-ingested id wins (its text is the newer
    # one); the anti-join probes the index with the batch's id column
    # only — broadcast-sized, map-side, the corpus never shuffles.
    batch_ids = batch.select(id_col).distinct()
    all_idx = (
        index.select(id_col, "sig", "sh")
        .join(F.broadcast(batch_ids), id_col, "left_anti")
        .unionByName(new_index)
    )
    pairs = _candidates_from_sigs(
        all_idx, id_col, k, band_size, max_band_size, new=new_index
    )
    return _verified(pairs, all_idx, id_col, threshold)


def minhash_band_rows_keyed(
    index: DataFrame,
    id_col: str = "doc_id",
    k: int = 8,
    band_size: int = 2,
) -> DataFrame:
    """(bkey, band, vals, id) — band rows with a single 64-bit join key
    ``bkey = xxhash64(band, vals)``. The scalar key is what makes the
    band table BUCKETABLE (Spark catalog bucketing hashes scalar
    columns); joins run on bkey with (band, vals) equality kept as a
    residual predicate, so a 64-bit collision can only add a candidate
    the residual filter immediately drops — never a wrong pair."""
    rows = _band_rows(index.select(id_col, "sig"), id_col, k, band_size)
    return rows.select(
        F.xxhash64("band", "vals").alias("bkey"), "band", "vals", id_col
    )


def write_minhash_band_table(
    index: DataFrame,
    table_name: str,
    n_buckets: int = 32,
    id_col: str = "doc_id",
    k: int = 8,
    band_size: int = 2,
) -> None:
    """Persist a minhash_doc_index's band rows as a Spark catalog table
    BUCKETED on bkey (round 12, VERDICT r11 #1).

    Why: `incremental_minhash_near_dup` derives the corpus band rows
    map-side, but everything keyed on them — the hot-band cap count and
    the candidate join — still hash-SHUFFLES those O(corpus × bands)
    rows once per served batch, so per-batch cost grows with corpus
    size, which defeats the point of an incremental index. Bucketing is
    the classic static-side fix: the shuffle is paid ONCE at write
    time; afterwards every bkey-keyed aggregate and join reads the
    bucketed scan's HashPartitioning directly (plan-gated: zero
    Exchange on the table side, test_bucketed_join.py) and only the
    BATCH side shuffles — per-batch cost tracks the batch, with one
    map-only streaming pass over the corpus bands.

    Maintenance contract: after serving a batch, fold it in with
    `append_minhash_band_table` (same bucket spec, enforced by Spark)
    so the table stays the full-corpus band set; appends add one file
    per touched bucket, so periodically rewrite via this function
    (mode overwrite of the same name) to restore the one-file-per-
    bucket layout the sort elision wants — the same epoch-debt
    compaction story as BucketedManifestTable.compact_small."""
    rows = minhash_band_rows_keyed(index, id_col, k, band_size)
    # repartition by bkey into exactly n_buckets partitions BEFORE the
    # bucketed write: repartition's HashPartitioning is the same
    # murmur3-pmod the bucket spec uses, so every task holds exactly
    # one bucket's rows and each bucket lands as ONE sorted file —
    # Spark only trusts (and elides) the sortBy order for single-file
    # buckets, and an elided corpus-side sort is half the point (an
    # SMJ that re-sorts the corpus every batch pays in sort what the
    # bucketing saved in shuffle)
    (
        rows.repartition(n_buckets, F.col("bkey"))
        .write.bucketBy(n_buckets, "bkey")
        .sortBy("bkey")
        .mode("overwrite")
        .saveAsTable(table_name)
    )


def band_table_bucket_file_counts(
    spark: SparkSession, table_name: str
) -> dict[int, int]:
    """Per-bucket data-file counts for a bucketed catalog table, from
    filesystem METADATA only (one directory listing — zero data read).
    Bucket ids come from Spark's bucketed-file naming contract
    (``part-*-<uuid>_NNNNN.c*``, the ``_NNNNN`` suffix is the bucket).
    This is the trigger input for append-debt compaction: a bucket with
    F files has accumulated F-1 append generations, and Spark's sort
    elision only trusts single-file buckets."""
    import re

    loc = None
    for r in spark.sql(f"DESCRIBE FORMATTED {table_name}").collect():
        if (r["col_name"] or "").strip() == "Location":
            loc = r["data_type"].strip()
            break
    if not loc:
        raise ValueError(f"no Location in catalog for table {table_name!r}")
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(loc)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    counts: dict[int, int] = {}
    if not fs.exists(path):
        return counts
    for st in fs.listStatus(path):
        if not st.isFile():
            continue
        m = re.search(r"_(\d{5})\.", st.getPath().getName())
        if m:
            b = int(m.group(1))
            counts[b] = counts.get(b, 0) + 1
    return counts


def append_minhash_band_table(
    new_index: DataFrame,
    table_name: str,
    n_buckets: int = 32,
    id_col: str = "doc_id",
    k: int = 8,
    band_size: int = 2,
    index: DataFrame | None = None,
    compact_file_threshold: int | None = 4,
) -> bool:
    """Fold a served batch's band rows into an existing bucketed band
    table — the maintenance half of the incremental-dedup contract:
    serve batch N against the table, then append batch N so batch N+1
    dedups against corpus ∪ batch N without any rebuild.

    The append writes bucket-correctly (Spark validates the spec
    against the catalog — a mismatched n_buckets raises rather than
    mis-bucketing, the BucketedManifestTable lesson), so joins stay
    corpus-shuffle-free across appends. Each append adds one file per
    touched bucket; multi-file buckets still join Exchange-free but
    lose the single-file sort elision.

    AUTO-COMPACTION (round 14, VERDICT r13 #6): pass `index` (the
    authoritative post-fold (id, sig, sh) index — corpus ∪ this batch,
    batch-wins) and the append checks per-bucket file counts AFTER
    writing (`band_table_bucket_file_counts` — one directory listing,
    zero data read) and runs `compact_minhash_band_table` when any
    bucket reaches `compact_file_threshold` files, so sort-elision
    debt is bounded at threshold-1 append generations instead of
    accumulating until a manual maintenance run. Returns True when a
    compact fired — the caller's `superseded_ids` set resets to empty
    at that point (compaction rewrites from the index, purging stale
    signatures). Without `index` (or with `compact_file_threshold=None`)
    the append is pure append-only and returns False; compaction stays
    the caller's job, as before.

    Callers pass the SAME n_buckets as the original write;
    `id_col`/`k`/`band_size` must also match or the stored band space
    is inconsistent (not detectable from the rows — the caller owns
    index parameters, as with every LSH parameter in this module).

    RE-INGEST CONTRACT (round-13, ADVICE r12): appends are append-only,
    so a batch containing an id ALREADY in the table leaves that id's
    old-signature band rows in the table alongside the new ones. Until
    the next `compact_minhash_band_table`, every serve must receive
    those ids via `incremental_minhash_near_dup_bucketed(...,
    superseded_ids=...)` — the serve then ignores the table's rows for
    them and re-derives their band rows map-side from the authoritative
    index. Compaction rewrites from the index and resets the set to
    empty. Without this, stale rows distort hot-band cap counts (a
    capped band silently drops TRUE pairs) and generate candidates from
    signatures that no longer exist. Auto-compaction (above) clears the
    set whenever it fires."""
    rows = minhash_band_rows_keyed(new_index, id_col, k, band_size)
    (
        rows.repartition(n_buckets, F.col("bkey"))
        .write.bucketBy(n_buckets, "bkey")
        .sortBy("bkey")
        .mode("append")
        .saveAsTable(table_name)
    )
    if index is not None and compact_file_threshold:
        counts = band_table_bucket_file_counts(
            new_index.sparkSession, table_name
        )
        if counts and max(counts.values()) >= compact_file_threshold:
            compact_minhash_band_table(
                index, table_name, n_buckets, id_col, k, band_size
            )
            return True
    return False


def compact_minhash_band_table(
    index: DataFrame,
    table_name: str,
    n_buckets: int = 32,
    id_col: str = "doc_id",
    k: int = 8,
    band_size: int = 2,
) -> None:
    """One-shot rewrite of the band table from the authoritative
    (id, sig, sh) index (round 13, VERDICT r12 #3) — the periodic
    maintenance op that pays down append debt:

      1. restores the ONE-FILE-PER-BUCKET layout: each append adds a
         file generation per touched bucket, and Spark only trusts
         (and elides) the sortBy order for single-file buckets — after
         N appends the serve's SMJ re-sorts the corpus side every
         batch, paying in sort what the bucketing saved in shuffle.
         Post-compact the candidate join is Sort-free on the table
         side again (plan-gated in tests/test_bucketed_join.py);
      2. purges STALE band rows of re-ingested ids: the index is keyed
         one row per id (batch-wins maintenance), so rewriting from it
         drops superseded signatures the append-only table still holds
         — after a compact, serves no longer need `superseded_ids`
         until the next re-ingesting epoch.

    Cost: one full shuffle of the corpus band rows (the same
    repartition(n_buckets, bkey) + sortBy write recipe as the original
    write — it IS that write, mode overwrite), so compaction IO tracks
    corpus size once per compaction, amortized over the epochs between
    compactions. Parameters must match the original write's."""
    write_minhash_band_table(index, table_name, n_buckets, id_col, k, band_size)


def incremental_minhash_near_dup_bucketed(
    batch: DataFrame,
    index: DataFrame,
    band_table: str,
    threshold: float = 0.5,
    k: int = 8,
    band_size: int = 2,
    shingle_n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_band_size: int | None = None,
    superseded_ids: DataFrame | None = None,
) -> DataFrame:
    """`incremental_minhash_near_dup` served from a bucketed band table
    (round 12, VERDICT r11 #1): identical pair set — every
    (a_id, b_id, jaccard) with a_id < b_id, jaccard ≥ threshold, and at
    least one side in `batch` — but the corpus-side band rows come from
    the catalog table `write_minhash_band_table` wrote, so NOTHING on
    the corpus side shuffles:

      - hot-band cap: the per-key count over the band table is an
        Exchange-free aggregate (groupBy(bkey, band, vals) on a table
        bucketed by bkey — the scan's HashPartitioning already
        satisfies the distribution), and only BATCH-TOUCHED keys need
        a total at all, since untouched keys can't form pairs;
      - candidate join: batch band rows shuffle by bkey into the
        table's bucket layout; the table side streams from the
        bucketed scan (the static-side-pre-bucketed join);
      - verification: the candidate pairs (small) join the stored
        `sh` arrays exactly like the flat incremental path.

    `index` is still required for verification (band rows don't carry
    the shingle arrays — duplicating them per band would multiply the
    table by n_bands). Re-ingested batch ids are anti-joined out of
    BOTH the verification index and the band table (batch wins, same
    contract as the flat path). Proven: the soak twin
    (tools/soak_incremental_dedup_bucketed.py) asserts the identical
    pair set vs the flat incremental AND the full recompute at 200k
    docs, with the index-side Exchange gone from the plan.

    `superseded_ids` (round 13, ADVICE r12): ids re-ingested in a
    PRIOR epoch since the last `compact_minhash_band_table` — the
    append-only table still holds their OLD-signature band rows next
    to the new ones, which would both distort the hot-band cap counts
    (dropping true pairs when a stale row pushes a band over the cap)
    and generate candidates from signatures that no longer exist. The
    serve anti-joins the table against them (broadcast, map-side — the
    corpus never shuffles) and re-derives their band rows from the
    authoritative `index`, whose row set IS current. The set is small
    (re-ingests since last compact), so its side of every join
    broadcasts."""
    spark = batch.sparkSession
    # lazy checkpoint: ONE Arrow shingle pass over the batch per action
    # (see the flat path's matching note)
    new_index = minhash_doc_index(batch, id_col, text_col, k, shingle_n)
    new_index = new_index.localCheckpoint(eager=False)
    batch_ids = batch.select(id_col).distinct()
    corpus_idx = index.select(id_col, "sig", "sh").join(
        F.broadcast(batch_ids), id_col, "left_anti"
    )
    all_verify = corpus_idx.unionByName(new_index)
    nb = minhash_band_rows_keyed(new_index, id_col, k, band_size)
    cb = spark.table(band_table).join(
        F.broadcast(batch_ids), id_col, "left_anti"
    )
    sb = None
    if superseded_ids is not None:
        # ids re-ingested again in THIS batch are already handled by the
        # batch_ids anti-join above (and live in nb); the remainder get
        # their table rows dropped and fresh band rows derived map-side
        # from the index — a small union kept SEPARATE from cb so the
        # bucketed scan's HashPartitioning survives for the main join
        sup = (
            superseded_ids.select(id_col).distinct()
            .join(batch_ids, id_col, "left_anti")
            .localCheckpoint(eager=False)
        )
        cb = cb.join(F.broadcast(sup), id_col, "left_anti")
        sup_idx = index.select(id_col, "sig").join(
            F.broadcast(sup), id_col, "left_semi"
        )
        sb = minhash_band_rows_keyed(sup_idx, id_col, k, band_size)
        sb = sb.localCheckpoint(eager=False)
    if max_band_size is not None:
        # per-batch work must track the BATCH, not the corpus: only
        # batch-touched keys can form pairs, so the corpus's role in
        # the cap is one map-only probe of the band table against the
        # (broadcast) batch key set — never a corpus-wide aggregate.
        # Touched volume is bounded by the batch's key set (a hot
        # boilerplate key contributes its bucket until the cap filter
        # drops it); the lazy checkpoint makes the single table scan
        # serve both the cap count and the candidate join.
        nb_keys = nb.select("bkey", "band", "vals").distinct()
        cb = cb.join(
            F.broadcast(nb_keys), ["bkey", "band", "vals"], "left_semi"
        ).localCheckpoint(eager=False)
        cbc = cb.groupBy("bkey", "band", "vals").agg(
            F.count(F.lit(1)).alias("__cn__")
        )
        nbc = nb.groupBy("bkey", "band", "vals").agg(
            F.count(F.lit(1)).alias("__bn__")
        )
        tot = nbc.join(cbc, ["bkey", "band", "vals"], "left")
        if sb is not None:
            # superseded docs' FRESH rows count toward the cap exactly
            # like the flat path would count them (their stale table
            # rows were anti-joined out of cb before cbc)
            sbc = sb.groupBy("bkey", "band", "vals").agg(
                F.count(F.lit(1)).alias("__sn__")
            )
            tot = tot.join(sbc, ["bkey", "band", "vals"], "left")
        else:
            tot = tot.withColumn("__sn__", F.lit(None).cast("long"))
        tot = tot.select(
            "bkey", "band", "vals",
            (
                F.col("__bn__")
                + F.coalesce(F.col("__cn__"), F.lit(0))
                + F.coalesce(F.col("__sn__"), F.lit(0))
            ).alias("__tn__"),
        )
        keep = tot.filter(F.col("__tn__") <= max_band_size).select(
            "bkey", "band", "vals"
        )
        nb = nb.join(keep, ["bkey", "band", "vals"], "left_semi")
        cb = cb.join(keep, ["bkey", "band", "vals"], "left_semi")
        if sb is not None:
            sb = sb.join(keep, ["bkey", "band", "vals"], "left_semi")
    nbx = nb.select(
        F.col(id_col).alias("x"), "bkey",
        F.col("band").alias("b1"), F.col("vals").alias("v1"),
    )
    cby = cb.select(
        F.col(id_col).alias("y"), "bkey",
        F.col("band").alias("b2"), F.col("vals").alias("v2"),
    )
    nby = nb.select(
        F.col(id_col).alias("y"), "bkey",
        F.col("band").alias("b2"), F.col("vals").alias("v2"),
    )
    same_band = (F.col("b1") == F.col("b2")) & (F.col("v1") == F.col("v2"))
    bc = nbx.join(cby, "bkey").filter(same_band).select("x", "y")
    bb = nbx.join(nby, "bkey").filter(same_band).select("x", "y")
    cand = bc.unionByName(bb)
    if sb is not None:
        # batch × superseded-fresh-rows: a SEPARATE small join (both
        # sides tiny) so the main batch × table join above keeps reading
        # the bucketed scan's partitioning untouched
        sby = sb.select(
            F.col(id_col).alias("y"), "bkey",
            F.col("band").alias("b2"), F.col("vals").alias("v2"),
        )
        bs = nbx.join(sby, "bkey").filter(same_band).select("x", "y")
        cand = cand.unionByName(bs)
    pairs = (
        cand
        .filter(F.col("x") != F.col("y"))
        .select(
            F.least("x", "y").alias("a_id"),
            F.greatest("x", "y").alias("b_id"),
        )
        .distinct()
    )
    return _verified(pairs, all_verify, id_col, threshold)


def ngram_jaccard_pairs(
    df: DataFrame,
    block_col: Column | str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.6,
    shingle_n: int = 2,
) -> DataFrame:
    """n-gram Jaccard near-dup within explicit blocks (e.g. same source /
    same first token): pairs only form inside a block — the blocked
    baseline when a natural partition key exists."""
    blk = F.col(block_col) if isinstance(block_col, str) else block_col
    sets_ = df.select(
        blk.alias("block"),
        F.col(id_col),
        shingle_hashes_pandas(shingle_n)(F.col(text_col)).alias("sh"),
    )
    a = sets_.select(F.col("block"), F.col(id_col).alias("a_id"), F.col("sh").alias("a_sh"))
    b = sets_.select(F.col("block"), F.col(id_col).alias("b_id"), F.col("sh").alias("b_sh"))
    return (
        a.join(b, "block")
        .filter(F.col("a_id") < F.col("b_id"))
        .select(
            "block", "a_id", "b_id", jaccard_col(F.col("a_sh"), F.col("b_sh")).alias("jaccard")
        )
        .filter(F.col("jaccard") >= F.lit(threshold))
    )


def connected_components(
    edges: DataFrame,
    a_col: str = "a_id",
    b_col: str = "b_id",
    max_iter: int | None = None,
    _rounds_out: list | None = None,
) -> DataFrame:
    """Undirected connected components by alternating large-star /
    small-star contraction (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC'14 — public algorithm).

    Why not min-label propagation: that converges in O(diameter)
    join rounds, which is fine for shallow near-dup clusters but
    adversarial for chain-shaped components (a 10⁶-node chain would need
    10⁶ shuffles). Star contraction halves component height per round —
    O(log n) rounds for ANY topology:

      large-star: every node u links its LARGER neighbors to
        m(u) = min(Γ(u) ∪ {u})   — emit (v, m(u)) for v ∈ Γ(u), v > u
      small-star: orient edges large→small; every node u links its
        smaller neighbors AND itself to m(u) — emit (v, m(u)) for
        v ∈ Γ⁻(u), plus (u, m(u))

    Both steps preserve connectivity; the fixpoint is a star forest
    where every node points at its component minimum. Returns
    (node, component), component = min id in the component — identical
    contract to the propagation version (keep-one resolution after
    pair-generating dedup). Pure DataFrame ops, no GraphFrames.

    `max_iter=None` (the default) derives the convergence bound from
    the node count: 2·⌈log₂ n⌉ + 8 rounds (floor 16). Star contraction
    needs ≤ ~log₂ n rounds on any topology, so the derived bound has
    ~2× headroom — a 10⁶-node adversarial chain converges in 20 rounds
    against a derived bound of 48 (round-5 fixed `max_iter=20` had ZERO
    headroom there and a ≥2×10⁶-node chain would have hit the
    RuntimeError with defaults). Pass an explicit int only to pin the
    bound in tests.

    `_rounds_out`: optional list; the executed round count is appended
    (bench/tests assert the ≤ O(log n) bound).
    """
    base = (
        edges.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        # cut upstream lineage (e.g. the whole minhash pipeline) once;
        # each round below re-checkpoints, so lineage stays O(1)
        .localCheckpoint(eager=True)
    )
    nodes = (
        base.select(F.col("u").alias("node"))
        .unionByName(base.select(F.col("v").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    if max_iter is None:
        import math

        n_nodes = nodes.count()
        max_iter = max(16, 2 * math.ceil(math.log2(max(n_nodes, 2))) + 8)
    cur = base
    cur_count = cur.count()
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        # -- large-star ------------------------------------------------
        nbrs = cur.unionByName(cur.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = (
            nbrs.groupBy("u")
            .agg(F.min("v").alias("__mn__"))
            .select("u", F.least(F.col("u"), F.col("__mn__")).alias("__m__"))
        )
        large = (
            nbrs.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("__m__").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # -- small-star ------------------------------------------------
        # large-star emits (v, m) with v > u ≥ m, so `large` is already
        # oriented large→small — no re-orientation pass needed
        oriented = large
        mins2 = oriented.groupBy("u").agg(F.min("v").alias("__m__"))  # __m__ < u
        small = (
            oriented.join(mins2, "u")
            .select(F.col("v").alias("u"), F.col("__m__").alias("v"))
            .unionByName(mins2.select(F.col("u"), F.col("__m__").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        new_count = small.count()
        # star-forest fixpoint ⟺ the (distinct) edge set is unchanged:
        # equal counts + empty one-sided difference
        if new_count == cur_count and small.exceptAll(cur).limit(1).count() == 0:
            cur = small
            break
        cur, cur_count = small, new_count
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(star contraction needs O(log n); this graph should be impossible "
            "— raise max_iter)"
        )
    if _rounds_out is not None:
        _rounds_out.append(rounds)
    # cur is a star forest (child → root); roots label themselves
    return nodes.join(
        cur.select(F.col("u").alias("node"), F.col("v").alias("__root__")),
        "node",
        "left",
    ).select(
        "node", F.coalesce(F.col("__root__"), F.col("node")).alias("component")
    )


def keep_one(
    pairs: DataFrame,
    a_col: str = "a_id",
    b_col: str = "b_id",
    max_iter: int | None = None,
) -> DataFrame:
    """Resolve duplicate pairs into per-cluster keep/drop decisions:
    (component keeper id, member id, keep flag). Singletons (docs with no
    dup edge) are untouched by construction — only edge-connected nodes
    appear. `max_iter` passes through to `connected_components`
    (default: derived from the node count)."""
    comp = connected_components(pairs, a_col, b_col, max_iter=max_iter)
    return comp.select(
        F.col("component").alias("keeper_id"),
        F.col("node").alias("doc_id"),
        (F.col("node") == F.col("component")).alias("keep"),
    )


def embedding_near_dup_arrow(
    df: DataFrame,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.99,
    chunk: int = 2048,
) -> DataFrame:
    """Arrow speed twin of `embedding_near_dup`: per-block NumPy gram
    matrix instead of a per-pair SQL fold. Same output contract
    (block, a_id, b_id, cos) with a_id < b_id, same cosine formula
    (dot / (‖a‖·‖b‖ + 1e-12)).

    Why it exists: the SQL pair join evaluates a d-element fold per
    PAIR through the expression interpreter — at 10⁸ within-cell pairs
    that is the wall, not the shuffle (measured: a 105k-vector soak
    that times out on the SQL path finishes in seconds here). The gram
    matrix does the same arithmetic as d-wide BLAS over the whole block
    at once. Row-chunked so peak memory is chunk·nᵢ doubles, not nᵢ².

    Determinism: BLAS sum order differs from the SQL fold in low-order
    bits, so `cos` is NOT bit-identical to the SQL path — a pair whose
    cosine sits within float noise of `threshold` can differ. Use the
    SQL path where bit-parity with an oracle matters; this path for
    scale (the keep/drop decision is identical except AT the noise
    boundary, and exact duplicates score 1.0 on both).
    """
    import numpy as np
    import pandas as pd

    from aeuc_vector_db_spark.functions.vector import as_double

    base = df.select(
        F.col(block_col).alias("block"),
        F.col(id_col).alias("__id__"),
        as_double(vec_col).alias("__v__"),
    )
    block_type = base.schema["block"].dataType.simpleString()
    id_type = base.schema["__id__"].dataType.simpleString()
    out_schema = f"block {block_type}, a_id {id_type}, b_id {id_type}, cos double"
    thr = float(threshold)

    def find_pairs(pdf: "pd.DataFrame") -> "pd.DataFrame":
        ids = pdf["__id__"].to_numpy()
        order = np.argsort(ids, kind="stable")  # id-sorted: partition-invariant
        ids = ids[order]
        n = len(ids)
        if n < 2:
            return pd.DataFrame({"block": [], "a_id": [], "b_id": [], "cos": []})
        V = np.asarray([list(v) for v in pdf["__v__"].iloc[order]], dtype=np.float64)
        norms = np.sqrt((V * V).sum(axis=1))
        a_idx, b_idx, cs = [], [], []
        for s in range(0, n, chunk):
            e = min(s + chunk, n)
            G = (V[s:e] @ V.T) / (np.outer(norms[s:e], norms) + 1e-12)
            ii, jj = np.nonzero(G >= thr)
            keep = jj > (ii + s)  # upper triangle only: a_id < b_id
            a_idx.append(ii[keep] + s)
            b_idx.append(jj[keep])
            cs.append(G[ii[keep], jj[keep]])
        a_i = np.concatenate(a_idx)
        b_i = np.concatenate(b_idx)
        c = np.concatenate(cs)
        return pd.DataFrame(
            {
                "block": np.repeat(pdf["block"].iloc[0], len(a_i)),
                "a_id": ids[a_i],
                "b_id": ids[b_i],
                "cos": c,
            }
        )

    return base.groupBy("block").applyInPandas(find_pairs, out_schema)


def semantic_dedup(
    corpus: DataFrame,
    k: int = 16,
    threshold: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str | None = None,
    seed: int = 42,
    sample_mod: int | None = None,
    engine: str = "arrow",
) -> DataFrame:
    """SemDeDup: embedding-space near-dup removal bucketed by k-means
    cells (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication", arXiv:2303.09540).

    `engine='arrow'` (default) scores within-cell pairs with the
    per-block NumPy gram kernel (`embedding_near_dup_arrow`) — the
    scale path; `engine='sql'` uses the JVM-side fold
    (`embedding_near_dup`), bit-identical to the DuckDB oracles. The
    two differ only for pairs within float noise of `threshold`.

    Pipeline: coarse cells (a bounded-sample k-means fit + map-side
    Arrow argmin assignment, `ann.py assign_centroids` — or a caller-
    provided `cell_col` such as a prebuilt IVF's) → within-cell cosine
    pairs ≥ threshold (`embedding_near_dup`, pair count Σ nᵢ², never
    N²) → connected components → keep the min-id representative per
    cluster. Returns (keeper_id, doc_id, keep) for edge-connected rows;
    untouched rows are implicitly kept.

    The documented SemDeDup tradeoff carries over: a near-dup pair
    SPLIT across a cell boundary is missed (identical vectors always
    co-locate — assignment is a deterministic function of the vector —
    so EXACT duplicates are never missed). Recall vs cost is tuned by
    k: fewer cells → bigger Σ nᵢ² → higher recall.
    """
    if cell_col is None:
        from aeuc_vector_db_spark.operators.ann import (
            assign_centroids,
            fit_centroids_sample_local,
        )

        cents = fit_centroids_sample_local(
            corpus, k=k, seed=seed, sample_mod=sample_mod,
            id_col=id_col, vec_col=vec_col,
        )
        cells = assign_centroids(corpus, cents, id_col=id_col, vec_col=vec_col)
        blocked = corpus.join(cells, id_col)
        cell_col = "centroid_id"
    else:
        if cell_col not in corpus.columns:
            raise ValueError(f"semantic_dedup: no column {cell_col!r} in corpus")
        blocked = corpus
    if engine not in ("arrow", "sql"):
        raise ValueError(f"semantic_dedup: engine must be arrow|sql, got {engine!r}")
    pair_fn = embedding_near_dup_arrow if engine == "arrow" else embedding_near_dup
    pairs = pair_fn(
        blocked, block_col=cell_col, id_col=id_col, vec_col=vec_col,
        threshold=threshold,
    )
    return keep_one(pairs)


def minhash_lsh_mllib(
    df: DataFrame,
    threshold: float = 0.5,
    num_tables: int = 8,
    num_features: int = 1 << 18,
    seed: int = 42,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """E1/E3 MLlib variant: HashingTF shingle features → MinHashLSH fit →
    approxSimilarityJoin. Same algorithm as the SQL formulation but with
    JVM hash families (not reproducible outside Spark — use the SQL
    form when oracle parity matters; use this one for raw throughput).

    Returns (a_id, b_id, jaccard_distance) with a_id < b_id.
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH

    from aeuc_vector_db_spark.operators.text import shingles_col, tokens_col

    shingled = df.select(
        F.col(id_col), shingles_col(tokens_col(text_col), 3).alias("shingles")
    ).filter(F.size("shingles") > 0)
    tf = HashingTF(
        inputCol="shingles", outputCol="features", numFeatures=num_features, binary=True
    )
    feats = tf.transform(shingled)
    model = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=num_tables, seed=seed
    ).fit(feats)
    joined = model.approxSimilarityJoin(feats, feats, 1.0 - threshold, distCol="jaccard_distance")
    return (
        joined.select(
            F.col(f"datasetA.{id_col}").alias("a_id"),
            F.col(f"datasetB.{id_col}").alias("b_id"),
            "jaccard_distance",
        )
        .filter(F.col("a_id") < F.col("b_id"))
    )


def embedding_near_dup(
    df: DataFrame,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.99,
) -> DataFrame:
    """Embedding-cosine near-dup within blocks. Returns
    (block, a_id, b_id, cos). Blocking keeps the pair count at
    Σ nᵢ² instead of N²; at scale the block key is a trained cluster id
    (operators/ann.py) rather than a label.

    Norms are folded ONCE PER ROW before the self-join (optimization
    round 15 — the same fix knn_cosine_range carries): folding each
    side's ‖·‖ inside the per-pair expression tripled the interpreted
    lambda work, and with Σ nᵢ² pairs the norm folds dominated the
    query (emb_semantic_dedup_keep_one 11.2 → measured win below). The
    per-row fold is the identical `l2_norm_col` over the identical
    array, so cos = dot/(na·nb + 1e-12) is bit-for-bit what
    `cosine_col` produced."""
    from aeuc_vector_db_spark.functions.vector import (
        as_double,
        dot_col,
        l2_norm_col,
    )

    base = df.select(
        F.col(block_col).alias("block"), F.col(id_col), as_double(vec_col).alias("v")
    ).withColumn("n", l2_norm_col("v"))
    a = base.select(
        "block", F.col(id_col).alias("a_id"),
        F.col("v").alias("a_v"), F.col("n").alias("a_n"),
    )
    b = base.select(
        "block", F.col(id_col).alias("b_id"),
        F.col("v").alias("b_v"), F.col("n").alias("b_n"),
    )
    cos = dot_col(F.col("a_v"), F.col("b_v")) / (
        F.col("a_n") * F.col("b_n") + F.lit(1e-12)
    )
    return (
        a.join(b, "block")
        .filter(F.col("a_id") < F.col("b_id"))
        .select("block", "a_id", "b_id", cos.alias("cos"))
        .filter(F.col("cos") >= F.lit(threshold))
    )


def substring_dup_spans(
    docs: DataFrame,
    min_len: int = 40,
    text_col: str = "text",
    id_col: str = "doc_id",
    stride: int = 1,
    screen_hash=F.xxhash64,
) -> DataFrame:
    """EXACT duplicated-substring detection (the Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better" ExactSubstr
    operator, re-expressed relationally): find every character window of
    length `min_len` whose content occurs at ≥ 2 distinct (doc, pos)
    locations corpus-wide, merge each doc's overlapping windows into
    maximal duplicated SPANS, and report per-doc duplication totals.
    Output: (id, n_dup_windows, dup_chars, n_chars) for affected docs —
    dup_chars is the UNION length of the merged spans, the number a
    span-removal pass would cut.

    With stride=1 this is exact: any duplicated substring of length
    ≥ min_len contains at least one aligned window on each side, and
    merged spans reconstruct its full extent. The suffix-array
    formulation of the paper is a single-machine algorithm; this is the
    shuffle formulation — windows are generated MAP-SIDE (explode +
    substr + sha2, no Python), and the only data movement is (hash,
    doc, pos) rows: 2 shuffles (hash group, doc group), each linear in
    total corpus characters with fixed row width. That linear shuffle
    is the honest cost of exactness at 100 TB; `stride > 1` is the
    screening knob (windows at stride s still catch every duplicated
    run of length ≥ min_len + s − 1, at 1/s the shuffle volume).

    Window keys are an xxhash64 SCREEN plus an exact content VERIFY,
    not a cryptographic hash: sha2-hex keys made the count shuffle
    carry 64-char strings per window and burned a SHA-256 per corpus
    character (measured: the hash pass WAS the query, 13.9 s at
    sf0.1). xxhash64 keys are 8 bytes and ~10× cheaper to compute,
    but at corpus scale 64-bit collisions are plausible and a
    collision here would MARK A FALSE DUPLICATE — so candidates are
    re-grouped by the actual 40-char substring (re-extracted via an
    id equi-join against the docs) and only content-count ≥ 2
    survives. Exactness argument: every occurrence of a truly
    duplicated content hashes equal, so ALL its occurrences reach the
    candidate set, and content counts among candidates equal global
    content counts. The expensive wide key exists only for the
    candidate sliver; the corpus-sized shuffles carry longs.

    `screen_hash` is a test seam: the exactness argument must hold for
    ANY screen function, so the suite also runs a degenerate constant
    screen (every window collides → everything is a candidate) and
    asserts bit-identical output.
    """
    if stride < 1:
        raise ValueError(f"stride must be >= 1, got {stride}")
    from pyspark.sql import Window

    t = F.col(text_col)
    last_start = F.length(t) - F.lit(min_len - 1)
    positions = F.when(
        F.length(t) >= min_len,
        F.sequence(F.lit(1), last_start, F.lit(stride)),
    ).otherwise(F.array().cast("array<int>"))
    win = docs.select(
        F.col(id_col),
        F.length(t).alias("n_chars"),
        t.alias("__t__"),
        F.explode(positions).alias("pos"),
    ).select(
        id_col,
        "n_chars",
        "pos",
        screen_hash(F.col("__t__").substr(F.col("pos"), F.lit(min_len))).alias("h"),
    )
    # duplicated window = its hash occurs at >= 2 locations. NOT a
    # window count over h: WindowExec has no partial aggregation, so a
    # boilerplate window shared by millions of docs would pile every
    # occurrence onto one task. groupBy(h) combines the hot key
    # map-side (the count shuffle carries distinct hashes, not
    # occurrences), and the mark-back equi-join's residual skew is the
    # AQE-skew-join-splittable kind. Same result set either way (the
    # oracle keeps the window formulation — equality is the check).
    dup_hashes = (
        win.groupBy("h")
        .agg(F.count(F.lit(1)).alias("__occ__"))
        .filter(F.col("__occ__") > 1)
        .select("h")
    )
    cand = win.join(dup_hashes, "h").select(id_col, "n_chars", "pos")
    # exact verify (see docstring): re-extract the candidate windows'
    # CONTENT and keep only content-count >= 2, killing xxhash64
    # collisions. All shuffles here touch only the candidate sliver.
    cand_s = cand.join(docs.select(id_col, t.alias("__t__")), id_col).select(
        id_col,
        "n_chars",
        "pos",
        F.col("__t__").substr(F.col("pos"), F.lit(min_len)).alias("__s__"),
    )
    dup_contents = (
        cand_s.groupBy("__s__")
        .agg(F.count(F.lit(1)).alias("__occ__"))
        .filter(F.col("__occ__") > 1)
        .select("__s__")
    )
    dup = cand_s.join(dup_contents, "__s__").select(id_col, "n_chars", "pos")
    # gaps-and-islands per doc: a window starts a new span iff it does
    # not overlap/abut the running span end (prev max pos + min_len).
    w_doc = Window.partitionBy(id_col).orderBy("pos")
    prev_max = F.max("pos").over(w_doc.rowsBetween(Window.unboundedPreceding, -1))
    marked = dup.withColumn(
        "brk",
        F.when(
            prev_max.isNull() | (F.col("pos") > prev_max + F.lit(min_len)),
            F.lit(1),
        ).otherwise(F.lit(0)),
    ).withColumn(
        "island",
        F.sum("brk").over(w_doc.rowsBetween(Window.unboundedPreceding, 0)),
    )
    spans = marked.groupBy(id_col, "n_chars", "island").agg(
        F.min("pos").alias("s"),
        (F.max("pos") + F.lit(min_len - 1)).alias("e"),
        F.count(F.lit(1)).alias("nw"),
    )
    return spans.groupBy(id_col, "n_chars").agg(
        F.sum("nw").cast("long").alias("n_dup_windows"),
        F.sum(F.col("e") - F.col("s") + F.lit(1)).cast("long").alias("dup_chars"),
    ).select(id_col, "n_dup_windows", "dup_chars", F.col("n_chars").cast("long").alias("n_chars"))


def edit_distance_one_pairs(
    df: DataFrame,
    key_col: str,
) -> DataFrame:
    """All DISTINCT key pairs within Levenshtein distance ≤ 1 — via
    symmetric-delete (SymSpell-style) blocking, never all-pairs.

    Every key generates |key|+1 block keys: itself plus each
    single-character deletion. Two strings within edit distance 1
    PROVABLY share a block key (equal → the string itself; one
    substitution → the common deletion at the differing position; one
    insert/delete → the shorter string). The candidate join is an equi
    join on the block key — candidate volume is Σ per-block n², bounded
    by true near-match mass plus deletion collisions — and an exact
    `levenshtein(a, b) <= 1` verify kills the distance-2 collisions
    (two different deletions landing on the same block). Blocking keys
    are generated JVM-side (transform over sequence — no UDF).

    At 100 TB this is the spelling-variant/fuzzy-key dedup rung between
    exact hashing (distance 0) and MinHash (set similarity): exact
    bounded-distance semantics with linear key fan-out (|key|+1 per
    row) instead of an O(N²) similarity join. Returns (k_a, k_b) with
    k_a < k_b, deduplicated across shared blocks.
    """
    if key_col not in df.columns:
        raise ValueError(f"edit_distance_one_pairs: no column {key_col!r}")
    keys = df.select(F.col(key_col).alias("k")).distinct().filter(
        F.col("k").isNotNull() & (F.char_length("k") > 0)
    )
    blocks = keys.select(
        "k",
        F.explode(
            F.expr(
                "array_union(array(k), transform(sequence(1, char_length(k)),"
                " i -> concat(substring(k, 1, i-1),"
                " substring(k, i+1, char_length(k)))))"
            )
        ).alias("b"),
    )
    a = blocks.withColumnRenamed("k", "k_a")
    b = blocks.withColumnRenamed("k", "k_b")
    cand = (
        a.join(b, "b")
        .filter(F.col("k_a") < F.col("k_b"))
        .select("k_a", "k_b")
        .distinct()
    )
    return cand.filter(F.levenshtein("k_a", "k_b") <= 1)
