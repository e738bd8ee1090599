"""Transactional manifest-committed Parquet table (mini transaction log).

Reference analog: the hash-chained audit log + snapshot/restore give the
reference crash-consistent state on a single process
(/root/reference/aeuc_vector_db/vector_field.py:85-117, 448-461). At
100 TB with many writers the Spark-idiomatic equivalent is a transaction
log over immutable Parquet data files — the public lakehouse design
(Delta/Iceberg papers): a writer makes data files visible only by
atomically publishing a manifest, so readers always see a complete
snapshot and a crash mid-write is invisible.

Layout:

    <root>/data/<token>/part-*.parquet    immutable data directories
    <root>/_log/v{N:012d}.json            manifest: version N's snapshot

A manifest lists the ABSOLUTE snapshot (every live file), not a delta —
readers resolve one JSON file and never replay history. Manifests are
tiny (file paths + stats); data files are never rewritten in place.

Commit protocol (optimistic concurrency, POSIX-atomic publish):

 1. write the new data directory with Spark (invisible to readers — no
    manifest references it yet)
 2. build the manifest: parent version, action, live file list, row
    count (captured via ``Observation`` on the write job — no second
    count pass), optional streaming epoch marker
 3. publish via ``os.link(tmp, _log/vN.json)`` — atomic fail-if-exists.
    On EEXIST another writer won vN: re-resolve the latest version,
    recompute the snapshot file list against it, retry at N+1. Appends
    retry without rework (their data dir is still valid); merge/delete
    re-run their read-modify-write against the new snapshot.

Guarantees (each pinned in tests/test_manifest.py):
 - atomic visibility: a reader sees version N in full or not at all
 - crash safety: data files without a published manifest are ignored,
   and ``vacuum()`` reclaims them
 - time travel: any retained version remains readable
 - idempotent streaming epochs: ``commit_append(df, epoch_id=e)`` is a
   no-op if epoch ``e`` already committed — the exactly-once
   ``foreachBatch`` sink pattern (a restarted stream replays its last
   epoch; the log absorbs the duplicate)
 - optimistic concurrency: racing writers serialize through the
   fail-if-exists publish; the loser retries on a fresh snapshot

Cloud note: ``os.link`` fail-if-exists is the local-FS stand-in for the
same primitive every production log uses (S3 conditional PUT, GCS
if-generation-match, HDFS atomic rename). Only ``_try_publish`` would
change on those stores.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

FORMAT_VERSION = 1
_LOG_DIR = "_log"
_DATA_DIR = "data"


class CommitConflictError(RuntimeError):
    """Raised when a commit loses the publish race more than max_retries
    times — the caller's read-modify-write is persistently stale."""


class ConstraintViolationError(ValueError):
    """An ingest batch (or, at add time, the existing table) breaks a
    declared CHECK constraint. Carries per-constraint violation counts
    so the caller can see every broken invariant from one pass."""

    def __init__(self, table_root: str, counts: "dict[str, int]", where: str):
        self.counts = dict(counts)
        detail = ", ".join(f"{n}: {c} row(s)" for n, c in sorted(counts.items()))
        super().__init__(
            f"CHECK constraint(s) violated {where} at {table_root!r} — {detail}"
        )


def _schema_sig(df: DataFrame) -> list[str]:
    """Order-sensitive schema signature stored in each manifest: appends
    must match the parent exactly, because spark.read.parquet over
    mixed-schema files resolves columns from an arbitrary file — a
    silently wrong result, not an error."""
    return [f"{f.name}:{f.dataType.simpleString()}" for f in df.schema.fields]


#: Safe numeric type WIDENINGS (old simpleString → allowed new ones):
#: every old value is exactly representable in the new type, and
#: Spark's parquet readers (vectorized and row-based, verified on 4.1)
#: up-cast old files' columns at scan when handed the wider explicit
#: schema. Deliberately scalar-and-lossless only: int→double or
#: decimal changes alter equality/hash semantics, and nested
#: (array/struct) widening is excluded until the readers' behavior is
#: pinned by a test. Bloom sidecars stay valid across int widenings
#: (values hash by str(); 5 and 5L canonicalize identically) and float
#: columns are never bloomed; JSON file stats compare as Python
#: numbers either way.
_TYPE_WIDENINGS: dict = {
    "tinyint": {"smallint", "int", "bigint"},
    "smallint": {"int", "bigint"},
    "int": {"bigint"},
    "float": {"double"},
}


def _field_widens(old: str, new: str) -> bool:
    """Same column name, same type OR a safe numeric widening."""
    oname, otype = old.split(":", 1)
    nname, ntype = new.split(":", 1)
    return oname == nname and (
        otype == ntype or ntype in _TYPE_WIDENINGS.get(otype, ())
    )


def _sig_evolves(old_sig: list[str], new_sig: list[str]) -> bool:
    """Is new_sig a safe evolution of old_sig: every existing column
    kept (exact type or safe numeric widening, same name/order), new
    columns only appended? Renames, drops, narrowing, and non-numeric
    type changes stay rejected — those need a rewrite."""
    return len(new_sig) >= len(old_sig) and all(
        _field_widens(o, n) for o, n in zip(old_sig, new_sig)
    )


def _sig_to_struct(sig: list[str]):
    """Reconstruct the StructType a manifest's `name:type` signature
    describes — the read-side half of schema evolution: passing this
    explicitly to the parquet reader makes files missing the appended
    columns yield NULLs, with none of mergeSchema's per-file footer
    cost at planning time."""
    from pyspark.sql import types as T

    # public StructType.fromDDL where available (Spark ≥ 3.5); the
    # private T._parse_datatype_string only as a fallback so a PySpark
    # upgrade that renames/removes the private API can't break every
    # evolved-table read
    ddl = ", ".join(f"`{e.split(':', 1)[0]}` {e.split(':', 1)[1]}" for e in sig)
    from_ddl = getattr(T.StructType, "fromDDL", None)
    if from_ddl is not None:
        struct = from_ddl(ddl)
    else:
        struct = T.StructType(
            [
                T.StructField(
                    e.split(":", 1)[0],
                    T._parse_datatype_string(e.split(":", 1)[1]),
                    True,
                )
                for e in sig
            ]
        )
    # signatures are nullable by construction (appended columns read as
    # NULL from old files); fromDDL defaults to nullable already
    return struct


def _file_stats(path: str, cols: list[str]) -> dict:
    """Per-file min/max for `cols` from the parquet FOOTER (row-group
    statistics — a metadata read, no data scan). Only JSON-safe scalar
    stats (int/float/str/bool) are recorded; a column whose stats are
    missing in any row group is omitted, and readers must treat a
    missing entry as 'may match' (conservative, never wrong)."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    idx = {md.schema.column(i).path: i for i in range(md.num_columns)}
    out: dict[str, list] = {}
    for c in cols:
        ci = idx.get(c)
        if ci is None:
            continue
        mn = mx = None
        ok = True
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(ci).statistics
            if st is None or not st.has_min_max:
                ok = False
                break
            rmn, rmx = st.min, st.max
            if not isinstance(rmn, (bool, int, float, str)):
                ok = False  # timestamps/binary: not JSON-comparable here
                break
            mn = rmn if mn is None else min(mn, rmn)
            mx = rmx if mx is None else max(mx, rmx)
        if ok and mn is not None:
            out[c] = [mn, mx]
    return out


def _file_nulls(path: str, cols: list[str]) -> dict:
    """Per-file `[null_count, num_rows]` for `cols` from the parquet
    FOOTER (row-group statistics — a metadata read, no data scan). A
    column whose null_count is missing in any row group is omitted;
    readers treat a missing entry as 'may match' (conservative, never
    wrong). Serves `IS NULL` / `IS NOT NULL` data skipping the same way
    min/max spans serve range predicates."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    idx = {md.schema.column(i).path: i for i in range(md.num_columns)}
    out: dict[str, list] = {}
    for c in cols:
        ci = idx.get(c)
        if ci is None:
            continue
        n_null = 0
        ok = True
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(ci).statistics
            if st is None or st.null_count is None:
                ok = False
                break
            n_null += st.null_count
        if ok:
            out[c] = [n_null, md.num_rows]
    return out


def _predicates_condition(predicates: list[tuple]):
    """The Column conjunction equivalent of a `files_for` predicate list
    — the residual filter applied AFTER file pruning, so skipping is an
    optimization, never a semantics change. Shared by read_where and
    delete_where_dv so the pruning and filtering vocabularies can never
    drift apart."""
    cond = None
    for c, op, v in predicates:
        col = F.col(c)
        if op == "in":
            clause = col.isin(list(v))
        elif op == "is_null":
            clause = col.isNull()
        elif op == "is_not_null":
            clause = col.isNotNull()
        else:
            clause = {
                "=": col == v,
                "<": col < v,
                "<=": col <= v,
                ">": col > v,
                ">=": col >= v,
            }[op]
        cond = clause if cond is None else cond & clause
    return cond


def _span_may_match(span, op: str, value) -> bool:
    """Can a file whose column spans [min, max] contain a row satisfying
    `col <op> value`? Missing/incomparable stats ⇒ True (read the file)."""
    if not span:
        return True
    mn, mx = span
    try:
        if op == "=":
            return mn <= value <= mx
        if op == "<":
            return mn < value
        if op == "<=":
            return mn <= value
        if op == ">":
            return mx > value
        if op == ">=":
            return mx >= value
    except TypeError:
        return True  # cross-type comparison: stats unusable, keep the file
    raise ValueError(f"unsupported data-skipping operator {op!r}")


def _bloom_params(n: int, fpp: float) -> tuple[int, int]:
    """(m bits, k hashes) for n values at the target false-positive
    rate: m = -n·ln p / ln²2, k = (m/n)·ln 2 — the standard sizing."""
    import math

    n = max(n, 1)
    m = max(64, int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2))))
    k = max(1, round(m / n * math.log(2)))
    return m, k


def _bloom_hashes(value, m: int, k: int) -> "list[int]":
    """k bit indexes via double hashing of the value's canonical string
    form (blake2b → two 64-bit halves). Canonicalization is str() for
    strings and ints — the same form the query side applies to the
    predicate value, so write and probe always agree."""
    import hashlib as _hl

    d = _hl.blake2b(str(value).encode(), digest_size=16).digest()
    h1 = int.from_bytes(d[:8], "little")
    h2 = int.from_bytes(d[8:], "little") | 1
    return [(h1 + i * h2) % m for i in range(k)]


def _file_ndv_registers(path: str, cols: list[str]) -> dict:
    """Per-file HLL register vectors {col: base64(512 dense maxrho
    bytes)} for int/string columns, computed at write time from one
    columnar read of the freshly-written local file (same cost profile
    as the bloom sidecars, and stored the same way — in a per-dir
    `_ndv.json` SIDECAR, never in the manifest: per-file maps in the
    manifest are copied forward by every commit, so register vectors
    there would grow every manifest read O(files·m) — the sidecar
    travels and vacuums with its data dir instead). The registers are
    the engine's cross-engine HLL (operators/sketch.py — sha256 of
    str(value), the bloom canonicalization contract), so they MERGE by
    element-wise max: table-level NDV folds from per-file vectors with
    zero data reads, the Iceberg-sketch idea with a deterministic
    sketch."""
    import base64
    import hashlib

    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    import pyarrow.types as pt

    from aeuc_vector_db_spark.operators.sketch import HLL_M, HLL_P, HLL_W

    out: dict = {}
    schema = pq.ParquetFile(path).schema_arrow
    use = []
    for c in cols:
        if c in schema.names:
            t = schema.field(c).type
            if pt.is_integer(t) or pt.is_string(t) or pt.is_large_string(t):
                use.append(c)
    if not use:
        return out
    tbl = pq.read_table(path, columns=use)
    for c in use:
        regs = bytearray(HLL_M)
        for v in pc.unique(tbl.column(c).combine_chunks()).to_pylist():
            if v is None:
                continue
            h = int(hashlib.sha256(str(v).encode()).hexdigest()[:8], 16)
            suf = h >> HLL_P
            rho = (HLL_W + 1) if suf == 0 else (HLL_W + 1) - suf.bit_length()
            r = h % HLL_M
            if rho > regs[r]:
                regs[r] = rho
        out[c] = base64.b64encode(bytes(regs)).decode()
    return out


def _bloom_build(values, fpp: float) -> dict:
    vals = [v for v in values if v is not None]
    m, k = _bloom_params(len(set(vals)), fpp)
    bits = bytearray((m + 7) // 8)
    for v in vals:
        for idx in _bloom_hashes(v, m, k):
            bits[idx >> 3] |= 1 << (idx & 7)
    import base64

    return {"m": m, "k": k, "b64": base64.b64encode(bytes(bits)).decode()}


def _bloom_may_contain(entry: dict, value) -> bool:
    import base64

    bits = base64.b64decode(entry["b64"])
    return all(
        bits[idx >> 3] & (1 << (idx & 7))
        for idx in _bloom_hashes(value, entry["m"], entry["k"])
    )


def _file_rel_col():
    """Root-relative file key ('data/<token>/part-….parquet', or
    'data/<token>/__bucket__=N/part-….parquet' under the bucketed
    layout) recovered from the hidden `_metadata.file_path` column — the
    join key between data rows and deletion-vector rows. Using the
    relative tail keeps deletion vectors valid if the table root is
    moved or re-mounted; anchoring on the literal 'data/' segment at the
    end of the path makes the key identical to the manifest's
    root-relative file entries for BOTH layouts."""
    return F.regexp_extract(
        F.col("_metadata.file_path"),
        r"(?:^|/)(data/[^/]+(?:/__bucket__=[^/]+)?/[^/]+)$",
        1,
    )


def _zvalue(df: DataFrame, cols: list[str], bits_per_col: int = 8):
    """Column computing the Morton (Z-order) interleave of the rank-bucket
    indices of `cols` — the multi-column clustering key: sorting by it
    keeps every clustered column's per-file min/max span tight
    SIMULTANEOUSLY, so data skipping bites on predicates over ANY of the
    columns (a plain sort only serves its leading column).

    Bucket boundaries come from one `approxQuantile` pass (driver holds
    ≤2^bits scalars per column — bounded regardless of table size), so
    skewed value distributions still spread across all 2^bits codes;
    scaling by the raw value range would collapse skewed columns into a
    few buckets. The bucket index and bit interleave are pure JVM-side
    expressions (array `filter` + shift/AND) — no Python in the row path.
    Numeric columns only; rejects others loudly.
    """
    from pyspark.sql.types import NumericType

    fields = {f.name: f.dataType for f in df.schema.fields}
    for c in cols:
        if c not in fields:
            raise ValueError(f"z-order column {c!r} not in schema")
        if not isinstance(fields[c], NumericType):
            raise ValueError(
                f"z-order column {c!r} is {fields[c].simpleString()}; "
                "quantile bucketing needs a numeric column"
            )
    n_buckets = 1 << bits_per_col
    probs = [i / n_buckets for i in range(1, n_buckets)]
    bounds_per_col = df.approxQuantile(cols, probs, 1.0 / (4 * n_buckets))
    k = len(cols)
    z = F.lit(0).cast("long")
    for i, (c, bounds) in enumerate(zip(cols, bounds_per_col)):
        uniq = sorted(set(bounds))
        arr = F.array(*[F.lit(float(b)) for b in uniq])
        val = F.col(c).cast("double")
        idx = F.size(F.filter(arr, lambda b: b <= val))  # noqa: B023
        for b in range(bits_per_col):
            bit = F.shiftright(idx.cast("long"), b).bitwiseAND(F.lit(1))
            z = z + F.shiftleft(bit, b * k + i)
    return z


class ManifestTable:
    """Handle on a manifest-committed table rooted at a directory.

    Stateless: every operation re-resolves the log on disk, so any number
    of handles (processes) can share a root; the publish protocol
    serializes them.
    """

    #: manifest keys holding per-file maps that must follow files across
    #: appends and bounded merges (accumulated in _commit / merge_upsert)
    _PER_FILE_KEYS = ("buckets", "file_rows", "stats", "nulls")

    #: largest distinct-key batch merge_upsert_dv will collect to the
    #: driver for file pruning; bigger batches read the full file list
    #: (correct, unpruned) instead of holding unbounded keys in driver
    #: memory
    _MERGE_PRUNE_MAX_KEYS = 100_000

    def __init__(
        self,
        root: str,
        stats_cols: list[str] | None = None,
        bloom_cols: list[str] | None = None,
        bloom_fpp: float = 0.01,
        ndv_cols: list[str] | None = None,
    ) -> None:
        self.root = root
        #: columns to record per-file min/max for at write time (footer
        #: metadata only). Reads via `read_where`/`files_for` then skip
        #: files whose span provably can't match — the lakehouse analog
        #: of the reference's inverted-index candidate pruning
        #: (reference vector_field.py:316-322): skip non-matching data
        #: before scanning it.
        self.stats_cols = list(stats_cols or [])
        #: columns to build per-file BLOOM filters for at write time —
        #: the point-lookup complement to min/max spans: a random /
        #: high-cardinality key (content hash, UUID) spans every file,
        #: so range stats prune nothing, but its bloom answers "this
        #: file provably lacks the key" with ~fpp false positives.
        #: Sidecars live INSIDE the data dir (`_blooms.json` — the
        #: underscore keeps Spark's parquet reader from touching it)
        #: so they travel/vacuum with the dir. False positives only
        #: cost an extra file read, never correctness.
        self.bloom_cols = list(bloom_cols or [])
        self.bloom_fpp = bloom_fpp
        #: columns to record per-file NDV (distinct-count) HLL register
        #: vectors for at write time — mergeable by max, so
        #: `ndv_estimate` answers table-level distinct counts from the
        #: manifest alone (zero data reads). int/string columns only
        #: (the bloom canonicalization contract); plain tables only.
        self.ndv_cols = list(ndv_cols or [])
        self._pending_schema: list[str] | None = None
        self._pending_extra: dict = {}
        os.makedirs(os.path.join(root, _LOG_DIR), exist_ok=True)
        os.makedirs(os.path.join(root, _DATA_DIR), exist_ok=True)

    # -- log resolution ------------------------------------------------

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.root, _LOG_DIR, f"v{version:012d}.json")

    def versions(self) -> list[int]:
        names = os.listdir(os.path.join(self.root, _LOG_DIR))
        return sorted(
            int(n[1:13]) for n in names if n.startswith("v") and n.endswith(".json")
        )

    def latest_version(self) -> int | None:
        vs = self.versions()
        return vs[-1] if vs else None

    def manifest(self, version: int | None = None) -> dict:
        if version is None:
            version = self.latest_version()
            if version is None:
                raise FileNotFoundError(f"no committed version at {self.root!r}")
        with open(self._manifest_path(version)) as fh:
            return json.load(fh)

    #: side file holding epoch markers of VACUUMED manifests — without it,
    #: vacuum would erase the idempotence record and a late replay of an
    #: old epoch would silently duplicate (the exactly-once guarantee must
    #: outlive log truncation)
    _EPOCHS_FILE = "epochs.json"

    def _retired_epochs(self) -> set[str]:
        p = os.path.join(self.root, _LOG_DIR, self._EPOCHS_FILE)
        if not os.path.exists(p):
            return set()
        with open(p) as fh:
            return set(json.load(fh))

    def committed_epochs(self) -> set[str]:
        """Every epoch marker ever committed: live manifests + the retired
        set preserved by vacuum. Scanning is O(log length); high-rate
        streaming sinks keep it cheap by vacuuming (which folds old
        markers into the side file)."""
        out = self._retired_epochs()
        for v in self.versions():
            e = self.manifest(v).get("epoch_id")
            if e is not None:
                out.add(str(e))
        return out

    # -- column rename (field-id-style indirection) --------------------
    #
    # Physical column names are IMMUTABLE once written: data files,
    # footer stats, bloom sidecars, and the manifest `schema` signature
    # all speak physical names forever. A rename is a METADATA-ONLY
    # commit updating the manifest's `renames` map (physical→logical,
    # non-identity entries only, sticky across every commit kind like
    # `evolved`). Reads logicalize their output at the boundary; writes
    # physicalize their input at the `_write_data_dir` chokepoint; the
    # public predicate/key/column entry points translate logical names
    # to physical before consulting stats/blooms or building scan
    # filters. This is the same indirection Iceberg gets from field ids
    # — without rewriting a byte of data, and with per-version maps so
    # time travel shows each version under its own names.

    def _renames(self, m: dict | None = None) -> dict:
        if m is None:
            v = self.latest_version()
            if v is None:
                return {}
            m = self.manifest(v)
        return m.get("renames") or {}

    def _phys_name(self, name: str, m: dict | None = None) -> str:
        """Logical → physical column name (identity when unmapped)."""
        for p, l in self._renames(m).items():
            if l == name:
                return p
        return name

    def _phys_predicates(
        self, predicates: list[tuple], m: dict | None = None
    ) -> list[tuple]:
        ren = self._renames(m)
        if not ren:
            return list(predicates)
        inv = {l: p for p, l in ren.items()}
        return [(inv.get(c, c), op, v) for (c, op, v) in predicates]

    def _logicalize(self, df: DataFrame, m: dict | None) -> DataFrame:
        ren = (m or {}).get("renames") or {}
        if not ren:
            return df
        return df.select(*[F.col(c).alias(ren.get(c, c)) for c in df.columns])

    def _physicalize_df(self, df: DataFrame, m: dict | None) -> DataFrame:
        ren = (m or {}).get("renames") or {}
        if not ren:
            return df
        inv = {l: p for p, l in ren.items()}
        return df.select(*[F.col(c).alias(inv.get(c, c)) for c in df.columns])

    def rename_column(self, old: str, new: str) -> int:
        """Rename a column — a metadata-only commit (zero files touched,
        zero bytes rewritten): the manifest's physical→logical map gains
        one entry and every read resolves through it. Old versions keep
        their own maps, so time travel shows historical names. Rejected:
        unknown columns, collisions with existing logical names, and a
        new name that shadows a DIFFERENT column's physical name (the
        logical→physical translation would turn ambiguous)."""
        parent = self.latest_version()
        if parent is None:
            raise FileNotFoundError(f"no committed version at {self.root!r}")
        last: CommitConflictError | None = None
        for _ in range(10):
            parent = self.latest_version()
            m = self.manifest(parent)
            sig = m.get("schema") or []
            phys_names = [e.split(":", 1)[0] for e in sig]
            ren = dict(m.get("renames") or {})
            logical_names = [ren.get(p, p) for p in phys_names]
            if old not in logical_names:
                raise ValueError(
                    f"rename_column: no column {old!r} (have {logical_names})"
                )
            if new == old or not new:
                raise ValueError(f"rename_column: invalid new name {new!r}")
            if new in logical_names:
                raise ValueError(
                    f"rename_column: {new!r} already names a column"
                )
            self._constraints_guard_schema_surgery(m, old, "rename_column")
            phys_old = phys_names[logical_names.index(old)]
            if new in phys_names and new != phys_old:
                raise ValueError(
                    f"rename_column: {new!r} shadows another column's "
                    "physical name — pick a name outside the physical set"
                )
            ren.pop(phys_old, None)
            if new != phys_old:  # renaming back to the physical = clear
                ren[phys_old] = new
            manifest = {
                "format_version": FORMAT_VERSION,
                "version": parent + 1,
                "parent": parent,
                "action": "rename",
                "files": m["files"],
                "n_rows": m["n_rows"],
                "epoch_id": None,
                "schema": m.get("schema"),
                "committed_at_s": round(time.time(), 3),
                **({"deletes": m["deletes"]} if m.get("deletes") else {}),
                **({"evolved": True} if m.get("evolved") else {}),
                **({"renames": ren} if ren else {}),
                **({"tombstones": m["tombstones"]} if m.get("tombstones") else {}),
                **({"constraints": m["constraints"]} if m.get("constraints") else {}),
                **{k: m[k] for k in self._PER_FILE_KEYS if k in m},
            }
            if self._try_publish(manifest, parent + 1):
                return parent + 1
            last = CommitConflictError("rename lost the publish race")
        raise CommitConflictError("rename_column: retries exhausted") from last

    def drop_column(self, name: str) -> int:
        """Drop a column — metadata-only (zero files rewritten): the
        manifest's schema loses the entry and every read resolves
        through the narrowed EXPLICIT schema, so the physical column in
        historic files is simply never projected. The dropped physical
        name goes into a sticky `tombstones` list: re-adding the same
        name via evolve-append is rejected, because parquet's by-name
        resolution would silently resurrect the old files' bytes under
        the new column. The last column cannot be dropped, nor can a
        bucketed table's key (guarded in the subclass override)."""
        parent = self.latest_version()
        if parent is None:
            raise FileNotFoundError(f"no committed version at {self.root!r}")
        last: CommitConflictError | None = None
        for _ in range(10):
            parent = self.latest_version()
            m = self.manifest(parent)
            sig = m.get("schema") or []
            ren = dict(m.get("renames") or {})
            phys_names = [e.split(":", 1)[0] for e in sig]
            logical_names = [ren.get(p, p) for p in phys_names]
            if name not in logical_names:
                raise ValueError(
                    f"drop_column: no column {name!r} (have {logical_names})"
                )
            if len(sig) == 1:
                raise ValueError("drop_column: cannot drop the last column")
            self._constraints_guard_schema_surgery(m, name, "drop_column")
            phys = phys_names[logical_names.index(name)]
            new_sig = [e for e in sig if e.split(":", 1)[0] != phys]
            ren.pop(phys, None)
            tombs = sorted(set(m.get("tombstones") or []) | {phys})
            manifest = {
                "format_version": FORMAT_VERSION,
                "version": parent + 1,
                "parent": parent,
                "action": "drop",
                "files": m["files"],
                "n_rows": m["n_rows"],
                "epoch_id": None,
                "schema": new_sig,
                "committed_at_s": round(time.time(), 3),
                # a narrowed schema means mixed-width files from here on:
                # every read MUST resolve through the explicit schema
                "evolved": True,
                "tombstones": tombs,
                **({"deletes": m["deletes"]} if m.get("deletes") else {}),
                **({"renames": ren} if ren else {}),
                **({"constraints": m["constraints"]} if m.get("constraints") else {}),
                **{k: m[k] for k in self._PER_FILE_KEYS if k in m},
            }
            if self._try_publish(manifest, parent + 1):
                return parent + 1
            last = CommitConflictError("drop lost the publish race")
        raise CommitConflictError("drop_column: retries exhausted") from last

    # -- constraints ---------------------------------------------------
    # CHECK constraints live in the manifest as a sticky {name: sql_expr}
    # map over LOGICAL column names (they survive every commit kind, and
    # time travel shows each version's own set). Enforcement is one
    # extra aggregate over the INGEST BATCH per write — never a table
    # scan — with all constraints folded into a single pass. Semantics
    # follow SQL CHECK: a row violates only when the expression is
    # FALSE; NULL passes (declare `col IS NOT NULL` to forbid nulls).

    def constraints(self, version: int | None = None) -> "dict[str, str]":
        if self.latest_version() is None:
            return {}
        return dict(self.manifest(version).get("constraints") or {})

    def _enforce_constraints(
        self, df: DataFrame, m: dict | None = None, where: str = "by ingest batch"
    ) -> None:
        cons = (m or {}).get("constraints") or {}
        if not cons:
            return
        aggs = [
            F.sum(
                F.when(~F.expr(expr), F.lit(1)).otherwise(F.lit(0))
            ).alias(name)
            for name, expr in sorted(cons.items())
        ]
        row = df.agg(*aggs).first()
        bad = {n: int(row[n]) for n in row.asDict() if row[n]}
        if bad:
            raise ConstraintViolationError(self.root, bad, where)

    def _constraints_guard_schema_surgery(self, m: dict, logical: str, op: str) -> None:
        """Renaming or dropping a column a CHECK expression mentions
        would leave the stored SQL dangling — rejected (drop the
        constraint first). Word-boundary match is conservative: a false
        positive costs an explicit drop/re-add, a false negative would
        corrupt enforcement."""
        pat = re.compile(rf"(?<![A-Za-z0-9_`]){re.escape(logical)}(?![A-Za-z0-9_`])")
        hit = [n for n, e in (m.get("constraints") or {}).items() if pat.search(e)]
        if hit:
            raise ValueError(
                f"{op}: column {logical!r} is referenced by CHECK "
                f"constraint(s) {sorted(hit)}; drop them first"
            )

    def add_check_constraint(
        self, spark: SparkSession, name: str, expr: str
    ) -> int:
        """Declare a CHECK constraint — a metadata-only commit, but only
        after validating that the EXISTING table satisfies it (one
        aggregate over the current snapshot; a constraint the data
        already breaks would make every future append fail through no
        fault of its own). The expression is SQL over logical column
        names and is evaluated on every subsequent ingest batch
        (append / overwrite / merge / CDC-apply)."""
        if not name or not expr:
            raise ValueError("add_check_constraint: empty name or expression")
        parent = self.latest_version()
        if parent is None:
            raise FileNotFoundError(f"no committed version at {self.root!r}")
        last: CommitConflictError | None = None
        for _ in range(10):
            parent = self.latest_version()
            m = self.manifest(parent)
            cons = dict(m.get("constraints") or {})
            if name in cons:
                raise ValueError(
                    f"add_check_constraint: {name!r} already exists "
                    f"({cons[name]!r}); drop it first"
                )
            # existing data must satisfy the new invariant (this also
            # surfaces typos/unknown columns as a loud AnalysisException)
            probe = {**m, "constraints": {name: expr}}
            self._enforce_constraints(
                self.read(spark, parent), probe, where="by existing rows"
            )
            cons[name] = expr
            manifest = {
                "format_version": FORMAT_VERSION,
                "version": parent + 1,
                "parent": parent,
                "action": "add_constraint",
                "files": m["files"],
                "n_rows": m["n_rows"],
                "epoch_id": None,
                "schema": m.get("schema"),
                "committed_at_s": round(time.time(), 3),
                "constraints": cons,
                **({"deletes": m["deletes"]} if m.get("deletes") else {}),
                **({"evolved": True} if m.get("evolved") else {}),
                **({"renames": m["renames"]} if m.get("renames") else {}),
                **({"tombstones": m["tombstones"]} if m.get("tombstones") else {}),
                **{k: m[k] for k in self._PER_FILE_KEYS if k in m},
            }
            if self._try_publish(manifest, parent + 1):
                return parent + 1
            last = CommitConflictError("add_check_constraint lost the publish race")
        raise CommitConflictError("add_check_constraint: retries exhausted") from last

    def drop_check_constraint(self, name: str) -> int:
        """Remove a CHECK constraint — metadata-only."""
        parent = self.latest_version()
        if parent is None:
            raise FileNotFoundError(f"no committed version at {self.root!r}")
        last: CommitConflictError | None = None
        for _ in range(10):
            parent = self.latest_version()
            m = self.manifest(parent)
            cons = dict(m.get("constraints") or {})
            if name not in cons:
                raise ValueError(
                    f"drop_check_constraint: no constraint {name!r} "
                    f"(have {sorted(cons)})"
                )
            del cons[name]
            manifest = {
                "format_version": FORMAT_VERSION,
                "version": parent + 1,
                "parent": parent,
                "action": "drop_constraint",
                "files": m["files"],
                "n_rows": m["n_rows"],
                "epoch_id": None,
                "schema": m.get("schema"),
                "committed_at_s": round(time.time(), 3),
                **({"constraints": cons} if cons else {}),
                **({"deletes": m["deletes"]} if m.get("deletes") else {}),
                **({"evolved": True} if m.get("evolved") else {}),
                **({"renames": m["renames"]} if m.get("renames") else {}),
                **({"tombstones": m["tombstones"]} if m.get("tombstones") else {}),
                **{k: m[k] for k in self._PER_FILE_KEYS if k in m},
            }
            if self._try_publish(manifest, parent + 1):
                return parent + 1
            last = CommitConflictError("drop_check_constraint lost the publish race")
        raise CommitConflictError("drop_check_constraint: retries exhausted") from last

    # -- reading -------------------------------------------------------

    def _apply_deletes(self, spark: SparkSession, df: DataFrame, m: dict) -> DataFrame:
        """Filter out rows covered by the snapshot's deletion vectors:
        anti-join on (relative file, row index). The DV side is tiny
        relative to the table (it holds deleted positions only), so AQE
        plans this as a broadcast anti-join — no table shuffle."""
        dvs = m.get("deletes") or []
        if not dvs:
            return df
        dv = spark.read.parquet(
            *[os.path.join(self.root, d) for d in dvs]
        ).select(F.col("file").alias("__dv_f"), F.col("row").alias("__dv_r"))
        keyed = df.withColumn("__dv_f", _file_rel_col()).withColumn(
            "__dv_r", F.col("_metadata.row_index")
        )
        return keyed.join(dv, ["__dv_f", "__dv_r"], "left_anti").drop(
            "__dv_f", "__dv_r"
        )

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """The snapshot at `version` (default latest) — reads exactly the
        files that manifest lists (minus deletion-vector rows);
        uncommitted data dirs are invisible."""
        m = self.manifest(version)
        files = [os.path.join(self.root, f) for f in m["files"]]
        if not files:
            raise ValueError(
                f"version {m['version']} of {self.root!r} is an empty snapshot"
            )
        return self._logicalize(
            self._apply_deletes(spark, self._read_files(spark, files, m), m), m
        )

    def _read_files(self, spark: SparkSession, files: list[str], m: dict) -> DataFrame:
        """Parquet scan of `files` under the snapshot's schema. Once a
        table has EVOLVED (additive column appends), the manifest's
        schema is passed to the reader explicitly so files written
        before the evolution yield NULL for the appended columns —
        correct mixed-file resolution without mergeSchema's per-file
        footer planning cost."""
        if m.get("evolved") and m.get("schema"):
            return spark.read.schema(_sig_to_struct(m["schema"])).parquet(*files)
        return spark.read.parquet(*files)

    def files_for_any(
        self, groups: list[list[tuple]], version: int | None = None
    ) -> tuple[list[str], int]:
        """Data skipping for a DISJUNCTION of predicate groups (DNF):
        `groups` = [g1, g2, ...] where each gi is a files_for-style
        AND-list; a file is kept iff ANY group might match it — the
        union of the per-group keeps, preserving manifest order. The
        OR shape `(a BETWEEN x AND y) OR (a = z)` is the natural form
        of multi-tenant and backfill reads that a single AND-list
        can't express."""
        if not groups:
            return [], len(self.manifest(version)["files"])
        keeps: set[str] = set()
        total = 0
        for g in groups:
            keep, total = self.files_for(g, version)
            keeps.update(keep)
        m = self.manifest(version)
        return [f for f in m["files"] if f in keeps], total

    def _pruned_filtered(
        self,
        spark: SparkSession,
        keep: list[str],
        cond,
        m: dict,
    ) -> DataFrame:
        """Shared tail of read_where/read_where_any: pruned physical
        scan → DV anti-join → physical filter → logicalized output.
        `cond` must be built from PHYSICAL column names."""
        if not keep:
            df = self._read_files(
                spark, [os.path.join(self.root, f) for f in m["files"]], m
            ).limit(0)
        else:
            df = self._apply_deletes(
                spark,
                self._read_files(
                    spark, [os.path.join(self.root, f) for f in keep], m
                ),
                m,
            )
        if cond is not None:
            df = df.filter(cond)
        return self._logicalize(df, m)

    def read_where_any(
        self,
        spark: SparkSession,
        groups: list[list[tuple]],
        version: int | None = None,
    ) -> DataFrame:
        """Exactly `read().filter(OR(AND(g) for g in groups))`, minus
        the files NO group might match (files_for_any)."""
        m = self.manifest(version)
        groups = [self._phys_predicates(g, m) for g in groups]
        keep, _total = self.files_for_any(groups, version)
        cond = None
        for g in groups:
            c = _predicates_condition(g)
            if c is None:
                cond = None  # an empty group matches everything
                break
            cond = c if cond is None else cond | c
        return self._pruned_filtered(spark, keep, cond, m)

    # -- metadata-only aggregates ---------------------------------------

    def count_rows(self, version: int | None = None) -> int:
        """Exact LIVE row count from the manifest alone — zero data
        files opened. Every commit maintains `n_rows` transactionally
        (appends add, DV deletes/merges subtract dead positions), so
        `SELECT COUNT(*)` is a metadata read. At 100 TB this is the
        difference between a JSON read and a cluster job."""
        return int(self.manifest(version)["n_rows"])

    def column_span(self, col: str, version: int | None = None):
        """(min, max) of `col` across the snapshot from per-file footer
        stats — zero data files opened. Returns None when any listed
        file lacks stats for the column (conservative: a partial span
        presented as total would be silently wrong). NOTE: the span is
        over PHYSICAL rows; soft-deleted (DV) positions still count, so
        it is a superset bound for live rows — exactly how file-level
        stats behave everywhere else in the skipping machinery."""
        m = self.manifest(version)
        col = self._phys_name(col, m)
        stats = m.get("stats") or {}
        mn = mx = None
        for f in m["files"]:
            span = (stats.get(f) or {}).get(col)
            if span is None:
                return None
            mn = span[0] if mn is None else min(mn, span[0])
            mx = span[1] if mx is None else max(mx, span[1])
        return None if mn is None else (mn, mx)

    def column_null_counts(self, col: str, version: int | None = None):
        """(null_count, row_count) of `col` across the snapshot from
        per-file null-count stats — zero data files opened; None when
        any file lacks them. Physical rows, like `column_span`."""
        m = self.manifest(version)
        col = self._phys_name(col, m)
        nulls = m.get("nulls") or {}
        n_null = n_rows = 0
        for f in m["files"]:
            nn = (nulls.get(f) or {}).get(col)
            if nn is None:
                return None
            n_null += nn[0]
            n_rows += nn[1]
        return (n_null, n_rows) if m["files"] else None

    def ndv_estimate(self, col: str, version: int | None = None) -> float:
        """Approximate distinct-value count of `col` across the snapshot
        from the per-file HLL register vectors alone — zero data files
        opened, any snapshot size (the IO is one tiny `_ndv.json`
        sidecar per data DIRECTORY of the snapshot). Registers merge by
        element-wise max (the HLL mergeability contract,
        operators/sketch.py), so the table-level estimate is EXACTLY
        what a fresh sketch over the union of written rows would
        produce. ~4.6% standard error at m=512. NOTE: NDV of WRITTEN
        rows — positional (DV) deletes cannot be unhashed from a
        sketch, so soft-deleted values still count (superset semantics,
        like column_span). Raises when any listed file lacks registers
        for the column (tables written without `ndv_cols`, or files
        predating it): a partial estimate presented as total would be
        silently wrong."""
        import base64
        import math

        from aeuc_vector_db_spark.operators.sketch import (
            HLL_ALPHA,
            HLL_M,
            HLL_W,
        )

        m = self.manifest(version)
        phys = self._phys_name(col, m)
        cache: dict[str, dict] = {}
        merged = bytearray(HLL_M)
        for f in m["files"]:
            d = os.path.dirname(f)
            if d not in cache:
                try:
                    with open(os.path.join(self.root, d, "_ndv.json")) as fh:
                        cache[d] = json.load(fh)
                except (FileNotFoundError, json.JSONDecodeError):
                    cache[d] = {}
            b64 = cache[d].get(os.path.basename(f), {}).get(phys)
            if b64 is None:
                raise ValueError(
                    f"ndv_estimate({col!r}): file {f!r} carries no NDV "
                    "registers — the table (or this file's commit) was "
                    "written without ndv_cols; re-write/compact to backfill"
                )
            regs = base64.b64decode(b64)
            for r in range(HLL_M):
                if regs[r] > merged[r]:
                    merged[r] = regs[r]
        v_zero = sum(1 for r in merged if r == 0)
        s_scaled = sum(1 << (HLL_W + 1 - rho) for rho in merged if rho) + v_zero * (
            1 << (HLL_W + 1)
        )
        e_raw = HLL_ALPHA * HLL_M * HLL_M * float(1 << (HLL_W + 1)) / s_scaled
        if e_raw <= 2.5 * HLL_M and v_zero > 0:
            return HLL_M * math.log(HLL_M / v_zero)
        return e_raw

    def files_for(
        self, predicates: list[tuple] = (), version: int | None = None
    ) -> tuple[list[str], int]:
        """(pruned root-relative file list, total files in snapshot) for
        `version` under data skipping: a file is dropped only when its
        recorded per-file min/max PROVES no row can satisfy every
        predicate `(col, op, value)` (ops: = < <= > >= in is_null
        is_not_null, AND semantics; `in` takes a value list and keeps a
        file when ANY listed value may be present; the null ops take
        value=None and consult per-file null counts), or a per-file
        bloom filter proves an `=`/`in` value absent. Files without
        stats/blooms/null-counts for a referenced column are kept."""
        m = self.manifest(version)
        predicates = self._phys_predicates(predicates, m)
        stats = m.get("stats") or {}
        nulls = m.get("nulls") or {}
        bloom_cache: dict[str, dict] = {}

        def bloom_ok(f: str, c: str, v) -> bool:
            # write side blooms only int/string values (floats are a
            # cross-engine canonicalization footgun and are skipped); a
            # probe of any other type (float, bool, Decimal) would hash
            # a DIFFERENT canonical string than the stored form and
            # wrongly prune — never consult the bloom for those
            if not (type(v) is int or type(v) is str):
                return True
            d = os.path.dirname(f)
            if d not in bloom_cache:
                p = os.path.join(self.root, d, "_blooms.json")
                try:
                    with open(p) as fh:
                        bloom_cache[d] = json.load(fh)
                except (FileNotFoundError, json.JSONDecodeError):
                    bloom_cache[d] = {}
            entry = bloom_cache[d].get(os.path.basename(f), {}).get(c)
            return True if entry is None else _bloom_may_contain(entry, v)

        def may_match(f: str, c: str, op: str, v) -> bool:
            span = (stats.get(f) or {}).get(c)
            if op == "in":
                vals = list(v)
                if not vals:
                    return False  # col IN () is vacuously false
                return any(
                    _span_may_match(span, "=", vi) and bloom_ok(f, c, vi)
                    for vi in vals
                )
            if op in ("is_null", "is_not_null"):
                nn = (nulls.get(f) or {}).get(c)
                if nn is None:
                    return True  # no null-count stats: keep the file
                n_null, n_rows = nn
                return n_null > 0 if op == "is_null" else n_null < n_rows
            return _span_may_match(span, op, v) and (
                op != "=" or bloom_ok(f, c, v)
            )

        keep = [
            f
            for f in m["files"]
            if all(may_match(f, c, op, v) for (c, op, v) in predicates)
        ]
        return keep, len(m["files"])

    def read_where(
        self, spark: SparkSession, predicates: list[tuple], version: int | None = None
    ) -> DataFrame:
        """Exactly `read().filter(AND(predicates))`, minus the files the
        per-file stats prove irrelevant — point lookups and range scans
        on a stats column read O(matching files), not O(table). Pair
        with `compact(sort_by=[col])`: range-clustering gives files
        disjoint spans, which is what makes the pruning bite."""
        m = self.manifest(version)
        predicates = self._phys_predicates(predicates, m)
        keep, _total = self.files_for(predicates, version)
        cond = _predicates_condition(predicates)
        return self._pruned_filtered(spark, keep, cond, m)

    def read_appended(
        self, spark: SparkSession, since_version: int
    ) -> DataFrame:
        """Incremental read: exactly the rows appended AFTER
        `since_version` — the append-only change feed that lets a
        downstream consumer recompute on O(new data) instead of
        re-reading the table. Data files are immutable, so the delta is
        just the file-list difference of the two manifests; no data is
        scanned to compute it.

        Raises if any intervening commit was not an append (overwrite/
        merge/delete/compact rewrite rows, so "the new files" no longer
        means "the new rows") — the caller must fall back to a full
        recompute, and silently handing it a wrong delta would corrupt
        every downstream aggregate.
        """
        latest = self.latest_version()
        if latest is None or since_version > latest:
            raise FileNotFoundError(
                f"version {since_version} not committed at {self.root!r}"
            )
        # load each intervening manifest exactly once — calling manifest(v)
        # inside both a filter and a projection makes long logs O(versions²)
        # in JSON loads
        intervening = [self.manifest(v) for v in self.versions() if v > since_version]
        # rename/drop/constraint commits are metadata-only (zero files
        # touched), so the file delta still equals the row delta across
        # them
        non_append = [
            (m["version"], m["action"])
            for m in intervening
            if m["action"] not in (
                "append", "rename", "drop", "add_constraint", "drop_constraint"
            )
        ]
        if non_append:
            raise ValueError(
                f"read_appended({since_version}): versions {non_append} are not "
                "appends — the file delta no longer equals the row delta; "
                "re-read the full snapshot instead"
            )
        base = set(self.manifest(since_version)["files"])
        m_latest = self.manifest(latest)
        new = [f for f in m_latest["files"] if f not in base]
        if not new:
            return self.read(spark, latest).limit(0)
        return self._logicalize(
            self._read_files(
                spark, [os.path.join(self.root, f) for f in new], m_latest
            ),
            m_latest,
        )

    def read_changes(
        self, spark: SparkSession, since_version: int
    ) -> DataFrame:
        """Change-data feed: every row change AFTER `since_version`, as
        the table's columns plus `_change_type` ('insert' | 'delete')
        and `_commit_version` — the Delta-CDF shape. Handles the commit
        kinds whose changes are recoverable from the log without diffing
        snapshots: appends (new files = inserted rows), `delete_dv` and
        `merge_dv` (DV sidecars name the deleted positions exactly;
        merge_dv's new files are its inserts). An update through
        merge_upsert_dv therefore appears as its delete + insert pair,
        which is how log-structured CDC represents updates. Rewrites
        (overwrite/compact/merge/delete) shuffle rows between files with
        no per-row change record — those raise, and the caller falls
        back to a snapshot diff or full recompute; pretending a rewrite
        was change-free would corrupt every downstream incremental
        aggregate.

        Deleted-row payloads are recovered by joining the DV positions
        back to the (immutable, still-present) data files — O(files
        containing deletes), no snapshot scan.

        `since_version=-1` means "from the very beginning": every
        retained commit's changes, starting from an empty baseline —
        the bootstrap form an `apply_cdc` replica uses for its first
        catch-up."""
        latest = self.latest_version()
        if latest is None or since_version > latest:
            raise FileNotFoundError(
                f"version {since_version} not committed at {self.root!r}"
            )
        ms = [self.manifest(v) for v in self.versions() if v > since_version]
        bad = [
            (m["version"], m["action"])
            for m in ms
            if m["action"]
            not in ("append", "delete_dv", "merge_dv", "compact_dv", "rename",
                    "drop", "add_constraint", "drop_constraint")
        ]
        if bad:
            raise ValueError(
                f"read_changes({since_version}): versions {bad} rewrite the "
                "snapshot — per-row changes are not recoverable from the "
                "log; re-read the full snapshot instead"
            )
        if since_version < 0:
            prev_files, prev_dvs = set(), set()
        else:
            prev_files = set(self.manifest(since_version)["files"])
            prev_dvs = set(self.manifest(since_version).get("deletes") or [])
        inserts: list[tuple[str, int]] = []  # (file, version)
        deletes: list[tuple[str, int]] = []  # (dv dir, version)
        for m in ms:
            for f in m["files"]:
                if f not in prev_files:
                    inserts.append((f, m["version"]))
            # compact_dv rewrites the SIDE-CAR list without changing any
            # row (the consolidated dir holds exactly the old dirs'
            # union) — reporting its "new" dir would re-emit every
            # historical delete as a fresh change
            if m["action"] != "compact_dv":
                for d in m.get("deletes") or []:
                    if d not in prev_dvs:
                        deletes.append((d, m["version"]))
            prev_files = set(m["files"])
            prev_dvs = set(m.get("deletes") or [])
        # ONE scan per change type, with commit-version attribution via a
        # broadcast (file → version) map — NOT one scan per version.
        # Round 6: the per-version union produced O(versions) separate
        # parquet scans and a union plan that cost a flat-but-huge
        # ~0.6 s/version at 116 versions (69 s full-history read in the
        # cdc_history bench probe); the single-scan form reads the same
        # bytes in O(1) jobs, so catch-up cost is data-proportional, not
        # version-proportional.
        base = self.read(spark, latest).limit(0)
        out = base.select(
            F.col("*"),
            F.lit("insert").alias("_change_type"),
            F.lit(0).alias("_commit_version"),
        ).limit(0)
        m_latest = self.manifest(latest)
        if inserts:
            ins = self._read_files(
                spark, [os.path.join(self.root, f) for f, _ in inserts], m_latest
            )
            fmap = spark.createDataFrame(
                inserts, "__cdc_f STRING, _commit_version INT"
            )
            # logicalize under the LATEST map (CDC shows current names,
            # the Delta-CDF convention); _commit_version/_change_type
            # pass through unmapped
            out = out.unionByName(
                self._logicalize(
                    ins.withColumn("__cdc_f", _file_rel_col())
                    .join(F.broadcast(fmap), "__cdc_f")
                    .drop("__cdc_f"),
                    m_latest,
                ).withColumn("_change_type", F.lit("insert"))
            )
        if deletes:
            # join DV positions back to the immutable data files they
            # reference to recover full deleted-row payloads; each DV
            # row's commit version comes from its sidecar dir via a
            # broadcast (dir → version) map
            all_files = sorted(
                {f for m in ms for f in m["files"]}
                | (
                    set(self.manifest(since_version)["files"])
                    if since_version >= 0
                    else set()
                )
            )
            keyed = self._read_files(
                spark, [os.path.join(self.root, f) for f in all_files], m_latest
            ).select(
                F.col("*"),
                _file_rel_col().alias("__dv_f"),
                F.col("_metadata.row_index").alias("__dv_r"),
            )
            dmap = spark.createDataFrame(
                deletes, "__cdc_d STRING, _commit_version INT"
            )
            dvr = (
                spark.read.parquet(
                    *[os.path.join(self.root, d) for d, _ in deletes]
                )
                .select(
                    F.col("file").alias("__dv_f"),
                    F.col("row").alias("__dv_r"),
                    F.regexp_extract(
                        F.col("_metadata.file_path"),
                        r"(?:^|/)(data/[^/]+)/[^/]+$",
                        1,
                    ).alias("__cdc_d"),
                )
                .join(F.broadcast(dmap), "__cdc_d")
                .drop("__cdc_d")
            )
            dead = keyed.join(
                dvr,
                ["__dv_f", "__dv_r"],
                "inner",
            ).drop("__dv_f", "__dv_r")
            out = out.unionByName(
                self._logicalize(dead, m_latest).withColumn(
                    "_change_type", F.lit("delete")
                )
            )
        return out

    # -- writing -------------------------------------------------------

    def _write_data_dir(
        self,
        df: DataFrame,
        sort_by: list[str] | None = None,
        n_files: int | None = None,
        cluster_by: list[str] | None = None,
    ) -> tuple[list[str], int]:
        """Write df to a fresh immutable data dir; return (root-relative
        file list, row count). Count rides the write job via Observation —
        the commit costs one pass, never a second count job. With
        `sort_by`, rows are range-partitioned and sorted within files so
        parquet row-group min/max stats support data skipping on those
        columns; `cluster_by` instead Z-orders rows (range-partition +
        in-file sort on the Morton interleave of the columns' quantile
        ranks) so skipping works on EVERY clustered column, not just the
        leading one; `n_files` pins the range-partition fan-out (AQE
        would otherwise coalesce small tables to one file, which defeats
        file-level skipping)."""
        from pyspark.sql import Observation

        if sort_by and cluster_by:
            raise ValueError("sort_by and cluster_by are mutually exclusive")
        # the physicalize chokepoint: batches arrive under LOGICAL names
        # (from callers or internal self.read()s); files always store
        # PHYSICAL names so footer stats, blooms, and the schema sig
        # stay valid across renames. Identity when no rename exists.
        m_cur = None
        v_cur = self.latest_version()
        if v_cur is not None:
            m_cur = self.manifest(v_cur)
        df = self._physicalize_df(df, m_cur)
        if sort_by:
            sort_by = [self._phys_name(c, m_cur) for c in sort_by]
        if cluster_by:
            cluster_by = [self._phys_name(c, m_cur) for c in cluster_by]
        stats_cols = [self._phys_name(c, m_cur) for c in self.stats_cols]
        token = uuid.uuid4().hex[:16]
        rel_dir = os.path.join(_DATA_DIR, token)
        out_dir = os.path.join(self.root, rel_dir)
        self._pending_schema = _schema_sig(df)
        if cluster_by:
            zc = f"__z_{token}"
            df = (
                df.withColumn(zc, _zvalue(df, cluster_by))
                .repartitionByRange(*([n_files, zc] if n_files else [zc]))
                .sortWithinPartitions(zc)
                .drop(zc)  # projection after the sort: order survives
            )
        elif sort_by:
            parted = (
                df.repartitionByRange(n_files, *sort_by)
                if n_files
                else df.repartitionByRange(*sort_by)
            )
            df = parted.sortWithinPartitions(*sort_by)
        obs = Observation()
        df.observe(obs, F.count(F.lit(1)).alias("n")).write.parquet(out_dir)
        n = int(obs.get["n"] or 0)
        files = sorted(
            os.path.join(rel_dir, f)
            for f in os.listdir(out_dir)
            if f.endswith(".parquet")
        )
        if stats_cols:
            self._pending_extra["stats"] = {
                rel: _file_stats(os.path.join(self.root, rel), stats_cols)
                for rel in files
            }
            self._pending_extra["nulls"] = {
                rel: _file_nulls(os.path.join(self.root, rel), stats_cols)
                for rel in files
            }
        if self.bloom_cols:
            self._write_blooms(
                out_dir, files,
                cols=[self._phys_name(c, m_cur) for c in self.bloom_cols],
            )
        if self.ndv_cols:
            ndv_phys = [self._phys_name(c, m_cur) for c in self.ndv_cols]
            by_dir: dict = {}
            for rel in files:
                entry = _file_ndv_registers(os.path.join(self.root, rel), ndv_phys)
                if entry:
                    by_dir.setdefault(
                        os.path.dirname(os.path.join(self.root, rel)), {}
                    )[os.path.basename(rel)] = entry
            for d, sidecar in by_dir.items():
                with open(os.path.join(d, "_ndv.json"), "w") as fh:
                    json.dump(sidecar, fh)
        return files, n

    def _write_blooms(
        self, out_dir: str, rel_files: list[str], cols: list[str] | None = None
    ) -> None:
        """Per-file bloom filters for `bloom_cols`, from one columnar
        read of each freshly-written local file (int/string columns
        only — float canonicalization is a cross-engine footgun). The
        sidecar name starts with '_' so Spark's parquet reader skips
        it. Sidecars are written PER PARENT DIRECTORY (the probe side
        resolves `dirname(file)/_blooms.json`), which makes the same
        code serve the flat layout (one sidecar in the data dir) and
        the bucketed layout (one per `__bucket__=N` subdir) —
        round 6: bucketed tables previously wrote no blooms at all, so
        their DV merges pruned by stats only."""
        import pyarrow.parquet as pq

        want = self.bloom_cols if cols is None else cols
        by_dir: dict[str, dict] = {}
        for rel in rel_files:
            path = os.path.join(self.root, rel)
            schema = pq.ParquetFile(path).schema_arrow
            fcols = [c for c in want if c in schema.names]
            if not fcols:
                continue
            tbl = pq.read_table(path, columns=fcols)
            entry = {}
            for c in fcols:
                vals = tbl.column(c).to_pylist()
                if any(isinstance(v, float) for v in vals):
                    continue
                entry[c] = _bloom_build(vals, self.bloom_fpp)
            if entry:
                by_dir.setdefault(os.path.dirname(path), {})[
                    os.path.basename(rel)
                ] = entry
        for d, sidecar in by_dir.items():
            with open(os.path.join(d, "_blooms.json"), "w") as fh:
                json.dump(sidecar, fh)

    def _try_publish(self, manifest: dict, version: int) -> bool:
        """Atomically publish `manifest` as `version`. False ⟺ lost the
        race (vN already exists)."""
        tmp = os.path.join(
            self.root, _LOG_DIR, f".tmp-{uuid.uuid4().hex}.json"
        )
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
            fh.flush()
            os.fsync(fh.fileno())
        try:
            os.link(tmp, self._manifest_path(version))  # atomic, EEXIST on race
            return True
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp)

    def _pop_pending_extra(self) -> dict:
        """Extra per-file manifest maps staged by the most recent
        _write_data_dir (stats; plus buckets/file_rows in the bucketed
        subclass)."""
        out, self._pending_extra = self._pending_extra, {}
        return out

    def _commit(
        self,
        action: str,
        new_files: list[str],
        n_new: int,
        keep_parent_files: bool,
        epoch_id: str | None = None,
        expected_parent: int | None = None,
        deletes: list[str] | None = None,
        evolve: bool = False,
    ) -> int:
        """Publish a version; retries the publish on conflict.

        `keep_parent_files=True` (append): the new snapshot = parent's
        files + new files, recomputed against whatever parent wins the
        race — safe to retry blindly. `False` (overwrite semantics): the
        snapshot is exactly `new_files`; if `expected_parent` is set and
        a different version won, raise CommitConflictError so the caller
        re-runs its read-modify-write instead of clobbering it.

        `deletes` (rewrite commits only) publishes deletion-vector
        sidecars alongside the new file list — the bucketed bounded
        merge carries forward DV rows that reference its untouched
        files this way.
        """
        extra = self._pop_pending_extra()
        schema, self._pending_schema = self._pending_schema, None
        for _ in range(50):
            parent = self.latest_version()
            if (
                expected_parent is not None
                and parent is not None
                and parent != expected_parent
            ):
                raise CommitConflictError(
                    f"snapshot moved {expected_parent}→{parent} under a "
                    f"{action}; re-run the read-modify-write"
                )
            version = 0 if parent is None else parent + 1
            per_file = dict(extra)
            if keep_parent_files and parent is not None:
                pm = self.manifest(parent)
                # schema drift on APPEND is silent corruption downstream:
                # a mixed-schema snapshot resolves columns from whichever
                # file the reader samples. Overwrite/merge/compact replace
                # the snapshot wholesale, so they may evolve the schema.
                if schema is not None and pm.get("schema") not in (None, schema):
                    if not (evolve and _sig_evolves(pm["schema"], schema)):
                        raise ValueError(
                            f"append schema mismatch at {self.root!r}: table has "
                            f"{pm['schema']}, batch has {schema}; pass "
                            "evolve=True for an additive column append or a "
                            "safe numeric widening (int→bigint, float→double), "
                            "or use commit_overwrite/merge_upsert to restructure"
                        )
                    # a re-added DROPPED name would make parquet's by-name
                    # resolution resurrect the old files' bytes under the
                    # new column — tombstoned names stay dead
                    tombs = set(pm.get("tombstones") or [])
                    appended = [
                        e.split(":", 1)[0] for e in schema[len(pm["schema"]):]
                    ]
                    dead = [c for c in appended if c in tombs]
                    if dead:
                        raise ValueError(
                            f"append at {self.root!r} re-adds dropped column(s) "
                            f"{dead}: historic files still hold bytes under "
                            "those physical names and an explicit-schema read "
                            "would resurrect them — pick a different name"
                        )
                    per_file["evolved"] = True
                files = pm["files"] + new_files
                n_rows = pm["n_rows"] + n_new
                # per-file maps accumulate across appends
                for k in self._PER_FILE_KEYS:
                    if k in pm or k in extra:
                        per_file[k] = {**pm.get(k, {}), **extra.get(k, {})}
                # deletion vectors survive appends untouched (new files
                # have no deleted rows); rewrites drop them — the rewrite
                # materialized the deletes
                if pm.get("deletes"):
                    per_file["deletes"] = list(pm["deletes"])
                if pm.get("evolved"):
                    per_file["evolved"] = True
                if pm.get("renames"):
                    per_file["renames"] = dict(pm["renames"])
                if pm.get("tombstones"):
                    per_file["tombstones"] = list(pm["tombstones"])
                if pm.get("constraints"):
                    per_file["constraints"] = dict(pm["constraints"])
            else:
                files, n_rows = list(new_files), n_new
                # a rewrite that carries parent files forward (bucketed
                # bounded merge) may still hold pre-evolution files; the
                # marker is sticky — explicit-schema reads are always
                # sound, so keeping it can never be wrong. Renames are
                # sticky on rewrites too: physical names are permanent
                # (every write path physicalizes), so the map stays
                # valid across any rewrite
                if parent is not None:
                    try:
                        pm_prev = self.manifest(parent)
                        if pm_prev.get("evolved"):
                            per_file["evolved"] = True
                        if pm_prev.get("renames"):
                            per_file["renames"] = dict(pm_prev["renames"])
                        if pm_prev.get("tombstones"):
                            per_file["tombstones"] = list(pm_prev["tombstones"])
                        if pm_prev.get("constraints"):
                            per_file["constraints"] = dict(pm_prev["constraints"])
                    except FileNotFoundError:
                        pass
            if deletes:
                per_file["deletes"] = list(deletes)
            manifest = {
                "format_version": FORMAT_VERSION,
                "version": version,
                "parent": parent,
                "action": action,
                "files": files,
                "n_rows": n_rows,
                "epoch_id": epoch_id,
                "schema": schema,
                "committed_at_s": round(time.time(), 3),
                **per_file,
            }
            if self._try_publish(manifest, version):
                return version
        raise CommitConflictError(f"publish retries exhausted under {action}")

    def commit_append(
        self,
        df: DataFrame,
        epoch_id: str | int | None = None,
        evolve: bool = False,
        sort_by: list[str] | None = None,
        n_files: int | None = None,
    ) -> int | None:
        """Append df as a new version. With `epoch_id`, the commit is
        idempotent: if that epoch is already in the log the data is NOT
        rewritten and None is returned (exactly-once foreachBatch sink).

        `sort_by` range-clusters the batch's files on the listed
        columns (same lever as compact(sort_by=…)) so per-file stats
        stay tight from the first write — what keeps an INCREMENTALLY
        built table's stat-pruned reads honest without waiting for a
        compaction pass (`n_files` pins the per-batch file fan-out —
        AQE otherwise coalesces a small batch to one file whose span
        covers everything).

        `evolve=True` permits ADDITIVE schema evolution — the batch may
        append new columns after the table's existing ones — and safe
        numeric TYPE WIDENING of existing columns (tinyint→smallint→
        int→bigint, float→double; see _TYPE_WIDENINGS). The manifest
        records the widened schema plus an `evolved` marker, and every
        later read resolves old files against it explicitly: NULL for
        appended columns, scan-time up-cast for widened ones. Renames,
        drops, narrowing, and other type changes stay rejected — those
        need a rewrite (commit_overwrite / merge_upsert)."""
        eid = None if epoch_id is None else str(epoch_id)
        if eid is not None and eid in self.committed_epochs():
            return None
        pv = self.latest_version()
        if pv is not None:
            self._enforce_constraints(df, self.manifest(pv))
        files, n = self._write_data_dir(df, sort_by=sort_by, n_files=n_files)
        return self._commit(
            "append", files, n, keep_parent_files=True, epoch_id=eid,
            evolve=evolve,
        )

    def _sized_like_parent(self, df: DataFrame, m: dict) -> DataFrame:
        """Output file sizing for a snapshot rewrite (optimization round
        16, guide §6): the rewrite must not inherit the SCAN's split
        count — under a small spark.sql.files.maxPartitionBytes (the
        session default is 8 MB locally) a 2 GB snapshot would otherwise
        shatter into hundreds of split-sized files that the next
        compact_small sweeps as small-file debt. The parent snapshot's
        real byte size (known from manifest `m`) sizes the output at
        ~128 MB per file; coalesce merges the splits without a shuffle."""
        import math as _math

        total = sum(os.path.getsize(os.path.join(self.root, f)) for f in m["files"])
        return df.coalesce(max(1, _math.ceil(total / (128 * 1024 * 1024))))

    def commit_overwrite(self, df: DataFrame) -> int:
        """Replace the snapshot with df (new files; old versions remain
        time-travel readable until vacuumed). CHECK constraints survive
        an overwrite, so the replacement data must satisfy them too.
        Over an existing snapshot the output is sized from the parent's
        bytes (`_sized_like_parent`); a replacement meant to keep its own
        file layout goes through `compact(sort_by=, n_files=)` instead."""
        pv = self.latest_version()
        if pv is not None:
            m = self.manifest(pv)
            self._enforce_constraints(df, m)
            df = self._sized_like_parent(df, m)
        files, n = self._write_data_dir(df)
        return self._commit("overwrite", files, n, keep_parent_files=False)

    def _assert_unique_keys(self, updates: DataFrame, key: str) -> None:
        """In-batch duplicate merge keys are ambiguous (which row wins is
        partition luck) — reject loudly, like the reference's in-batch
        dup-insert reject (reference vector_field.py:159-160). One cheap
        job over the (small) update batch."""
        dup = (
            updates.groupBy(key).count().filter(F.col("count") > 1).limit(1).count()
        )
        if dup:
            raise ValueError(
                f"merge_upsert: update batch contains duplicate {key!r} values; "
                "resolve them upstream (the winner would be partition luck)"
            )

    def merge_upsert(
        self, spark: SparkSession, updates: DataFrame, key: str, max_retries: int = 5
    ) -> int:
        """MERGE: rows in `updates` replace same-key rows, others append
        (A13/A15 batch semantics — `MERGE WHEN [NOT] MATCHED` without a
        lakehouse dependency). Read-modify-write with optimistic retry:
        on a lost race the merge re-runs against the winning snapshot.
        Update batches must be key-unique (checked).

        Scale note: rewrites the full snapshot. BucketedManifestTable
        bounds the rewrite to the hash-buckets containing updated keys;
        at fixture scale the simple form keeps every byte exercised by
        the oracle.
        """
        self._assert_unique_keys(updates, key)
        pv = self.latest_version()
        if pv is not None:
            # existing rows already satisfied the constraints at their
            # own commit time — only the update batch needs the pass
            self._enforce_constraints(updates, self.manifest(pv))
        last: CommitConflictError | None = None
        for _ in range(max_retries):
            parent = self.latest_version()
            if parent is None:
                files, n = self._write_data_dir(updates)
                try:
                    return self._commit(
                        "merge", files, n, keep_parent_files=False, expected_parent=None
                    )
                except CommitConflictError as exc:  # someone created v0 first
                    last = exc
                    continue
            current = self.read(spark, parent)
            merged = current.join(
                updates.select(key).distinct(), key, "left_anti"
            ).unionByName(updates)
            files, n = self._write_data_dir(
                self._sized_like_parent(merged, self.manifest(parent))
            )
            try:
                return self._commit(
                    "merge", files, n, keep_parent_files=False, expected_parent=parent
                )
            except CommitConflictError as exc:
                last = exc  # stale read: loop re-merges against the winner
        raise CommitConflictError(f"merge_upsert: {max_retries} retries exhausted") from last

    def merge_upsert_dv(
        self,
        spark: SparkSession,
        updates: DataFrame,
        key: str,
        max_retries: int = 5,
    ) -> int:
        """Bounded MERGE via deletion vectors, in ONE atomic commit:
        positional-delete the rows whose `key` appears in `updates`,
        and append the update batch as new files — no existing data
        file is rewritten, and a reader never sees the deleted-but-not-
        yet-reinserted intermediate state (there isn't one: a single
        manifest publishes both).

        This is the no-bucketing bounded merge: the matched-key scan is
        pruned per key through the same stats+bloom machinery as
        `files_for` (give the table `bloom_cols=[key]` and an upsert
        touches O(files that contain matched keys), not O(table)).
        Cost = pruned read + O(batch) write, vs the plain
        `merge_upsert`'s full-snapshot rewrite and the bucketed table's
        per-bucket rewrite. Update batches must be key-unique (checked);
        the batch schema must match the table (old files stay live, so
        a merge_dv cannot evolve the schema)."""
        self._assert_unique_keys(updates, key)
        return self._merge_apply_dv(
            spark, updates, None, key, epoch_id=None, max_retries=max_retries
        )

    def apply_cdc(
        self,
        spark: SparkSession,
        changes: DataFrame,
        key: str,
        epoch_id: "str | int | None" = None,
        max_retries: int = 5,
    ) -> "int | None":
        """Apply a `read_changes` feed to THIS table — the downstream
        half of CDC: maintain a replica / materialized selection by
        folding another table's change feed instead of re-copying its
        snapshot. Per key the NEWEST change wins (`_commit_version`
        order; a DV merge's delete+insert pair at one version resolves
        to the insert). ONE atomic commit DV-deletes every changed key
        and appends the final insert rows — the same bounded shape as
        merge_upsert_dv, extended with pure deletes.

        `epoch_id` (e.g. the source's version) makes re-applying the
        same feed a no-op — exactly-once catch-up with the progress
        marker stored in THIS table's own log, the offset-source
        pattern applied to table replication. Single consumer per
        epoch stream (same contract as commit_append's epoch_id)."""
        eid = None if epoch_id is None else str(epoch_id)
        if eid is not None and eid in self.committed_epochs():
            return None
        from pyspark.sql.window import Window as _W

        meta = ("_change_type", "_commit_version")
        data_cols = [c for c in changes.columns if c not in meta]
        w = _W.partitionBy(key).orderBy(
            F.col("_commit_version").desc(),
            (F.col("_change_type") == "insert").cast("int").desc(),
        )
        newest = changes.withColumn(
            "__rn", F.row_number().over(w)
        ).filter(F.col("__rn") == 1)
        ups = newest.filter(F.col("_change_type") == "insert").select(*data_cols)
        dels = newest.filter(F.col("_change_type") == "delete").select(key)
        return self._merge_apply_dv(
            spark, ups, dels, key, epoch_id=eid, max_retries=max_retries
        )

    def merge(
        self,
        spark: SparkSession,
        source: DataFrame,
        key: str,
        *,
        matched_update: "bool | str" = True,
        matched_delete: "bool | str | None" = None,
        not_matched_insert: "bool | str" = True,
        not_matched_by_source_delete: "bool | str | None" = None,
        max_retries: int = 5,
    ) -> int:
        """Full MERGE clause surface (the Delta-style `MERGE INTO`
        statement, reference A13/A15/A16 batch semantics generalized):

          WHEN MATCHED [AND <matched_delete>]       THEN DELETE
          WHEN MATCHED [AND <matched_update>]       THEN UPDATE (replace
                                                    with the source row)
          WHEN NOT MATCHED [AND <not_matched_insert>] THEN INSERT
          WHEN NOT MATCHED BY SOURCE
               [AND <not_matched_by_source_delete>] THEN DELETE

        Conditions are Spark SQL boolean expressions. In matched
        clauses, TARGET columns are referenced by their plain (logical)
        names and SOURCE columns with a `src_` prefix; the insert
        clause sees only `src_`-prefixed columns (there is no target
        row), and the not-matched-by-source clause only plain target
        columns. `True` = unconditional clause, `False`/`None` = clause
        absent. Matched precedence is DELETE before UPDATE (fixed
        clause order — Delta's first-match-wins with the delete clause
        first). The source may carry EXTRA columns (e.g. an `_op` flag)
        that participate in conditions but are never written; it must
        be key-unique and contain every table column.

        Executed as ONE atomic bounded commit through the DV engine:
        clause evaluation reads only the key-pruned candidate files
        (stats+bloom, like merge_upsert_dv) unless a not-matched-by-
        source clause forces the inherent full target pass; no data
        file is rewritten. Clause outputs are pinned to the snapshot
        they were computed from — a concurrent commit fails the publish
        CAS and the whole merge recomputes against the winner.
        """

        def _cond(c, clause):
            if c is None or c is False:
                return None
            if c is True:
                return F.lit(True)
            if isinstance(c, str):
                return F.expr(c)
            raise TypeError(f"{clause}: condition must be bool or SQL string, got {c!r}")

        upd_c = _cond(matched_update, "matched_update")
        del_c = _cond(matched_delete, "matched_delete")
        ins_c = _cond(not_matched_insert, "not_matched_insert")
        nmbs_c = _cond(
            not_matched_by_source_delete, "not_matched_by_source_delete"
        )
        if upd_c is None and del_c is None and ins_c is None and nmbs_c is None:
            raise ValueError("merge: no clauses — nothing to do")
        self._assert_unique_keys(source, key)
        last: CommitConflictError | None = None
        for _ in range(max_retries):
            parent = self.latest_version()
            if parent is None:
                raise ValueError(
                    f"merge into empty table at {self.root!r}: commit a first "
                    "snapshot (commit_append/commit_overwrite) before merging"
                )
            cur = self.read(spark, parent)  # logical names, DVs applied
            tcols = cur.columns
            missing = [c for c in tcols if c not in source.columns]
            if missing:
                raise ValueError(
                    f"merge source is missing table columns {missing}; extra "
                    "source columns are allowed, absent ones are not"
                )
            clash = [c for c in tcols if c.startswith("src_")]
            if clash:
                raise ValueError(
                    f"merge: target columns {clash} collide with the src_ "
                    "prefix used to expose source columns in conditions"
                )
            srcp = source.select(
                [F.col(c).alias(f"src_{c}") for c in source.columns]
            )
            src_keys = source.select(key).distinct()
            # matched candidates: key-pruned read unless the
            # not-matched-by-source clause needs the full pass anyway
            if nmbs_c is None and src_keys.count() <= self._MERGE_PRUNE_MAX_KEYS:
                keys = [r[0] for r in src_keys.collect()]
                tgt_scan = self.read_where(spark, [(key, "in", keys)], parent)
            else:
                tgt_scan = cur
            matched = tgt_scan.join(
                srcp, F.col(key) == F.col(f"src_{key}"), "inner"
            )
            del_rows = matched.filter(del_c) if del_c is not None else None
            rest = matched.filter(~del_c) if del_c is not None else matched
            upd_rows = (
                rest.filter(upd_c).select(
                    [F.col(f"src_{c}").alias(c) for c in tcols]
                )
                if upd_c is not None
                else None
            )
            ins_rows = None
            if ins_c is not None:
                src_only = srcp.join(
                    tgt_scan.select(F.col(key).alias(f"src_{key}")),
                    f"src_{key}",
                    "left_anti",
                )
                ins_rows = src_only.filter(ins_c).select(
                    [F.col(f"src_{c}").alias(c) for c in tcols]
                )
            nmbs_rows = None
            if nmbs_c is not None:
                nmbs_rows = (
                    cur.join(src_keys, key, "left_anti").filter(nmbs_c).select(key)
                )
            updates = cur.limit(0).select(tcols)
            for part in (upd_rows, ins_rows):
                if part is not None:
                    updates = updates.unionByName(part)
            delete_keys = None
            for part in (del_rows, nmbs_rows):
                if part is not None:
                    dk = part.select(key)
                    delete_keys = dk if delete_keys is None else delete_keys.unionByName(dk)
            try:
                return self._merge_apply_dv(
                    spark, updates, delete_keys, key,
                    epoch_id=None, max_retries=1, expected_parent=parent,
                )
            except CommitConflictError as exc:
                last = exc  # racer won: recompute every clause against it
        raise CommitConflictError(f"merge: {max_retries} retries exhausted") from last

    def _merge_apply_dv(
        self,
        spark: SparkSession,
        updates: DataFrame,
        delete_keys: "DataFrame | None",
        key: str,
        epoch_id: "str | None",
        max_retries: int,
        expected_parent: "int | None" = None,
    ) -> int:
        """Shared engine of merge_upsert_dv, apply_cdc, and merge:
        DV-delete every key in `updates` ∪ `delete_keys`, append
        `updates`, ONE manifest publish.

        `expected_parent` pins the snapshot the caller derived its
        inputs from (clause-evaluating callers like `merge`): if a
        concurrent commit advanced the table past it, the publish CAS
        on version `expected_parent+1` fails with CommitConflictError
        instead of silently committing clause outputs computed against
        a stale snapshot — the caller recomputes and retries."""
        pv = self.latest_version()
        if pv is not None:
            # enforce CHECK constraints on the insert batch (logical
            # names) BEFORE any write — O(batch), never O(table)
            self._enforce_constraints(updates, self.manifest(pv))
        last: CommitConflictError | None = None
        for _ in range(max_retries):
            parent = (
                self.latest_version() if expected_parent is None else expected_parent
            )
            if parent is None:
                # bootstrap: the feed's inserts found an empty table; the
                # epoch marker must still land or a replay would duplicate
                files, n = self._write_data_dir(updates)
                try:
                    return self._commit(
                        "merge", files, n, keep_parent_files=False,
                        expected_parent=None, epoch_id=epoch_id,
                    )
                except CommitConflictError as exc:
                    last = exc
                    if expected_parent is not None:
                        break  # pinned snapshot went stale: caller recomputes
                    continue
            m = self.manifest(parent)
            # batch arrives under LOGICAL names; translate batch + key to
            # physical (the candidate scan, stats lookups, and the schema
            # sig all speak physical). Identity when no rename exists.
            updates_p = self._physicalize_df(updates, m)
            key_p = self._phys_name(key, m)
            keys_df = updates_p.select(key_p).distinct()
            if delete_keys is not None:
                dk_p = self._physicalize_df(
                    delete_keys.select(key), m
                ).select(F.col(key_p))
                keys_df = keys_df.unionByName(dk_p).distinct()
            batch_schema = _schema_sig(updates_p)
            if m.get("schema") not in (None, batch_schema):
                raise ValueError(
                    f"merge_upsert_dv schema mismatch at {self.root!r}: table "
                    f"has {m['schema']}, batch has {batch_schema}; existing "
                    "files stay live under a DV merge — use merge_upsert/"
                    "commit_overwrite to evolve the schema"
                )
            # Pruning is batched: ONE files_for pass evaluates every key
            # against each file's stats+bloom (sidecars loaded once per
            # dir), not one pass per key. The collected key list is
            # bounded: past the cap, pruning is skipped entirely (read
            # all files — correct, just unpruned) instead of holding an
            # unbounded batch on the driver; a batch that large is
            # rewriting most files anyway, so pruning buys little.
            n_keys = keys_df.count()
            if n_keys <= self._MERGE_PRUNE_MAX_KEYS:
                keys = [r[0] for r in keys_df.collect()]
                cand = self.files_for([(key_p, "in", keys)], parent)[0]
            else:
                cand = list(m["files"])
            n_del = 0
            dv_rel: str | None = None
            if cand:
                # _read_files, not a bare spark.read.parquet: on an
                # evolved table whose merge key is an appended column,
                # schema inference from a pre-evolution file would make
                # F.col(key) unresolvable (or depend on which file Spark
                # samples) — the one read path that had not been switched
                raw = self._read_files(
                    spark, [os.path.join(self.root, f) for f in cand], m
                ).select(
                    F.col(key_p),
                    _file_rel_col().alias("__dv_f"),
                    F.col("_metadata.row_index").alias("__dv_r"),
                )
                dvs = m.get("deletes") or []
                if dvs:
                    dv_old = spark.read.parquet(
                        *[os.path.join(self.root, d) for d in dvs]
                    ).select(
                        F.col("file").alias("__dv_f"), F.col("row").alias("__dv_r")
                    )
                    raw = raw.join(dv_old, ["__dv_f", "__dv_r"], "left_anti")
                matching = raw.join(
                    keys_df, key_p, "left_semi"
                ).select(
                    F.col("__dv_f").alias("file"), F.col("__dv_r").alias("row")
                )
                from pyspark.sql import Observation

                token = uuid.uuid4().hex[:16]
                dv_rel = os.path.join(_DATA_DIR, token)
                dv_out = os.path.join(self.root, dv_rel)
                obs = Observation()
                matching.observe(obs, F.count(F.lit(1)).alias("n")).write.parquet(
                    dv_out
                )
                n_del = int(obs.get["n"] or 0)
                if n_del == 0:
                    shutil.rmtree(dv_out, ignore_errors=True)
                    dv_rel = None
            if updates_p.limit(1).count() > 0:
                new_files, n_new = self._write_data_dir(updates_p)
            else:  # pure-delete feed: nothing to append
                new_files, n_new = [], 0
                self._pending_schema = None
            extra = self._pop_pending_extra()
            self._pending_schema = None
            per_file = {}
            for k2 in self._PER_FILE_KEYS:
                if k2 in m or k2 in extra:
                    per_file[k2] = {**m.get(k2, {}), **extra.get(k2, {})}
            deletes = list(m.get("deletes") or [])
            if dv_rel:
                deletes.append(dv_rel)
            manifest = {
                "format_version": FORMAT_VERSION,
                "version": parent + 1,
                "parent": parent,
                "action": "merge_dv",
                "files": m["files"] + new_files,
                "n_rows": m["n_rows"] - n_del + n_new,
                "epoch_id": epoch_id,
                "schema": m.get("schema") or batch_schema,
                "committed_at_s": round(time.time(), 3),
                **({"deletes": deletes} if deletes else {}),
                **({"evolved": True} if m.get("evolved") else {}),
                **({"renames": m["renames"]} if m.get("renames") else {}),
                **({"tombstones": m["tombstones"]} if m.get("tombstones") else {}),
                **({"constraints": m["constraints"]} if m.get("constraints") else {}),
                **per_file,
            }
            if self._try_publish(manifest, parent + 1):
                return parent + 1
            # lost the race: the vector/files were computed against a
            # stale snapshot — discard and re-run the read-modify-write
            if dv_rel:
                shutil.rmtree(os.path.join(self.root, dv_rel), ignore_errors=True)
            for nf in new_files:
                shutil.rmtree(
                    os.path.join(self.root, os.path.dirname(nf)), ignore_errors=True
                )
            last = CommitConflictError("merge/apply_cdc lost the publish race")
            if expected_parent is not None:
                break  # pinned snapshot went stale: caller recomputes
        raise CommitConflictError(
            f"merge_upsert_dv/apply_cdc: {max_retries} retries exhausted"
        ) from last

    def delete_where(self, spark: SparkSession, condition) -> int:
        """Keep rows NOT matching `condition` (a Column) as a new version.
        Rewrites the snapshot — O(table); see `delete_where_dv` for the
        O(matching files) form. The output is sized from the parent's
        bytes (`_sized_like_parent`)."""
        parent = self.latest_version()
        if parent is None:
            raise FileNotFoundError(f"no committed version at {self.root!r}")
        kept = self.read(spark, parent).filter(~condition)
        files, n = self._write_data_dir(
            self._sized_like_parent(kept, self.manifest(parent))
        )
        return self._commit(
            "delete", files, n, keep_parent_files=False, expected_parent=parent
        )

    def delete_where_dv(
        self, spark: SparkSession, predicates: list[tuple]
    ) -> int | None:
        """Delete via DELETION VECTORS: record the (file, row-index)
        positions of matching rows in a sidecar instead of rewriting any
        data file — the lakehouse soft-delete (Delta/Iceberg positional
        deletes). Cost is O(files that may match) read + O(deleted rows)
        written, vs `delete_where`'s full-snapshot rewrite; at 100 TB
        deleting one user's rows touches the files stats say may hold
        them and writes kilobytes. Reads anti-join the vectors back out
        (broadcast — the DV side is deleted positions only); appends
        carry vectors forward; any rewrite (compact/merge/overwrite)
        materializes them away. Returns the new version, or None when no
        live row matches (no commit — an empty DV would be noise).

        `predicates` are `(col, op, value)` triples (ops = < <= > >=
        in is_null is_not_null), the same AND-semantics shape
        `read_where` takes, so file-level stats pruning bounds the scan
        exactly like a filtered read."""
        parent = self.latest_version()
        if parent is None:
            raise FileNotFoundError(f"no committed version at {self.root!r}")
        m = self.manifest(parent)
        # the raw scan below is PHYSICAL; translate logical predicate
        # names once here (files_for would translate again — identity)
        predicates = self._phys_predicates(predicates, m)
        cand, _total = self.files_for(predicates, parent)
        out_dir: str | None = None
        if cand:
            cond = _predicates_condition(predicates)
            # capture (file, row) from the RAW scan — the _metadata
            # pseudo-column resolves only on the scan relation, so it is
            # materialized into plain columns before any join
            raw = self._read_files(
                spark, [os.path.join(self.root, f) for f in cand], m
            ).select(
                F.col("*"),
                _file_rel_col().alias("__dv_f"),
                F.col("_metadata.row_index").alias("__dv_r"),
            )
            dvs = m.get("deletes") or []
            if dvs:  # don't re-delete already-dead rows (n_rows accounting)
                dv_old = spark.read.parquet(
                    *[os.path.join(self.root, d) for d in dvs]
                ).select(F.col("file").alias("__dv_f"), F.col("row").alias("__dv_r"))
                raw = raw.join(dv_old, ["__dv_f", "__dv_r"], "left_anti")
            matching = raw.filter(cond).select(
                F.col("__dv_f").alias("file"), F.col("__dv_r").alias("row")
            )
            from pyspark.sql import Observation

            token = uuid.uuid4().hex[:16]
            rel_dir = os.path.join(_DATA_DIR, token)
            out_dir = os.path.join(self.root, rel_dir)
            obs = Observation()
            matching.observe(obs, F.count(F.lit(1)).alias("n")).write.parquet(out_dir)
            n_del = int(obs.get["n"] or 0)
        else:
            n_del = 0
        if n_del == 0:
            if out_dir is not None:
                shutil.rmtree(out_dir, ignore_errors=True)  # empty DV dir
            return None
        manifest = {
            "format_version": FORMAT_VERSION,
            "version": parent + 1,
            "parent": parent,
            "action": "delete_dv",
            "files": m["files"],
            "n_rows": m["n_rows"] - n_del,
            "epoch_id": None,
            "schema": m.get("schema"),
            "committed_at_s": round(time.time(), 3),
            "deletes": list(m.get("deletes") or []) + [rel_dir],
            **({"evolved": True} if m.get("evolved") else {}),
            **({"renames": m["renames"]} if m.get("renames") else {}),
            **({"tombstones": m["tombstones"]} if m.get("tombstones") else {}),
            **({"constraints": m["constraints"]} if m.get("constraints") else {}),
            **{k: m[k] for k in self._PER_FILE_KEYS if k in m},
        }
        if not self._try_publish(manifest, parent + 1):
            shutil.rmtree(out_dir, ignore_errors=True)
            raise CommitConflictError(
                "snapshot moved under delete_where_dv; the vector was "
                "computed against a stale snapshot — re-run the delete"
            )
        return parent + 1

    # -- maintenance ---------------------------------------------------

    def compact(
        self,
        spark: SparkSession,
        sort_by: list[str] | None = None,
        n_files: int | None = None,
        cluster_by: list[str] | None = None,
    ) -> int:
        """Rewrite the current snapshot into one fresh data dir (small-file
        compaction after many appends); content identical, old versions
        stay time-travel readable until vacuumed. Conflicts with an
        interleaved writer abort (CommitConflictError) — compaction is a
        maintenance job, it must never clobber a data commit.

        `sort_by` additionally clusters rows (range-partition + in-file
        sort) so later filtered reads skip row groups via parquet
        min/max stats — the maintenance-time data-layout lever next to
        bucketing (which clusters by HASH for merges; this clusters by
        ORDER for range predicates). `cluster_by` Z-orders instead: the
        per-file spans stay tight on all listed columns at once, for
        workloads that filter on more than one dimension (costs one
        extra bounded `approxQuantile` pass)."""
        parent = self.latest_version()
        if parent is None:
            raise FileNotFoundError(f"no committed version at {self.root!r}")
        files, n = self._write_data_dir(
            self.read(spark, parent),
            sort_by=sort_by,
            n_files=n_files,
            cluster_by=cluster_by,
        )
        return self._commit(
            "compact", files, n, keep_parent_files=False, expected_parent=parent
        )

    def compact_small(
        self,
        spark: SparkSession,
        target_bytes: int = 128 * 1024 * 1024,
        min_small: int = 2,
        sort_by: list[str] | None = None,
    ) -> int | None:
        """Incremental OPTIMIZE: rewrite ONLY the files smaller than
        `target_bytes` into ~target-sized files; files already at
        target carry forward BY REFERENCE. This is the maintenance
        shape that survives 100 TB — compaction IO tracks the
        small-file debt from recent appends, never the table size
        (`compact()` by contrast rewrites the whole snapshot, which is
        a layout change, not routine maintenance).

        Deletion-vector rows covering the rewritten files are
        materialized away (the new files hold live rows only); DV
        sidecars stay in place for the surviving files — their entries
        for rewritten files dangle harmlessly (the read anti-join
        matches nothing) until `vacuum`/`compact_deletes` fold them.
        Surviving files keep their stats/bloom pruning metadata.
        Returns the new version, or None when fewer than `min_small`
        small files exist. Loses cleanly to concurrent writers
        (CommitConflictError — maintenance never clobbers data)."""
        import math as _math

        parent = self.latest_version()
        if parent is None:
            raise FileNotFoundError(f"no committed version at {self.root!r}")
        m = self.manifest(parent)
        sizes = {
            f: os.path.getsize(os.path.join(self.root, f)) for f in m["files"]
        }
        small = [f for f in m["files"] if sizes[f] < target_bytes]
        if len(small) < max(2, min_small):
            return None
        df = self._read_files(
            spark, [os.path.join(self.root, f) for f in small], m
        )
        df = self._logicalize(self._apply_deletes(spark, df, m), m)
        n_out = max(
            1, _math.ceil(sum(sizes[f] for f in small) / target_bytes)
        )
        if sort_by:
            files_new, n_new = self._write_data_dir(
                df, sort_by=sort_by, n_files=n_out
            )
        else:
            files_new, n_new = self._write_data_dir(df.coalesce(n_out))
        extra = self._pop_pending_extra()
        self._pending_schema = None  # schema unchanged by a rewrite subset
        keep = [f for f in m["files"] if f not in set(small)]
        per_file: dict = {}
        for k in self._PER_FILE_KEYS:
            if k in m or k in extra:
                per_file[k] = {**m.get(k, {}), **extra.get(k, {})}
        manifest = {
            "format_version": FORMAT_VERSION,
            "version": parent + 1,
            "parent": parent,
            "action": "compact_small",
            "files": keep + files_new,
            "n_rows": m["n_rows"],
            "epoch_id": None,
            "schema": m.get("schema"),
            "committed_at_s": round(time.time(), 3),
            **({"deletes": m["deletes"]} if m.get("deletes") else {}),
            **({"evolved": True} if m.get("evolved") else {}),
            **({"renames": m["renames"]} if m.get("renames") else {}),
            **({"tombstones": m["tombstones"]} if m.get("tombstones") else {}),
            **({"constraints": m["constraints"]} if m.get("constraints") else {}),
            **per_file,
        }
        if not self._try_publish(manifest, parent + 1):
            for nf in files_new:
                shutil.rmtree(
                    os.path.join(self.root, os.path.dirname(nf)),
                    ignore_errors=True,
                )
            raise CommitConflictError(
                "snapshot moved under compact_small; re-run the maintenance job"
            )
        return parent + 1

    def compact_deletes(self, spark: SparkSession) -> int | None:
        """Consolidate all deletion-vector sidecars into ONE fresh dir
        (data files untouched): a long soft-delete history accumulates
        one tiny DV dir per delete/merge, and every read anti-joins
        their union — this folds them so reads open one sidecar
        regardless of history length. Returns the new version, or None
        when the snapshot has ≤1 DV dir (nothing to fold). Old versions
        stay time-travel readable until vacuumed; conflicts with an
        interleaved writer abort (maintenance job semantics, like
        compact)."""
        parent = self.latest_version()
        if parent is None:
            raise FileNotFoundError(f"no committed version at {self.root!r}")
        m = self.manifest(parent)
        dvs = m.get("deletes") or []
        if len(dvs) <= 1:
            return None
        merged = spark.read.parquet(*[os.path.join(self.root, d) for d in dvs])
        token = uuid.uuid4().hex[:16]
        rel_dir = os.path.join(_DATA_DIR, token)
        merged.coalesce(1).write.parquet(os.path.join(self.root, rel_dir))
        manifest = {
            "format_version": FORMAT_VERSION,
            "version": parent + 1,
            "parent": parent,
            "action": "compact_dv",
            "files": m["files"],
            "n_rows": m["n_rows"],
            "epoch_id": None,
            "schema": m.get("schema"),
            "committed_at_s": round(time.time(), 3),
            "deletes": [rel_dir],
            **({"evolved": True} if m.get("evolved") else {}),
            **({"renames": m["renames"]} if m.get("renames") else {}),
            **({"tombstones": m["tombstones"]} if m.get("tombstones") else {}),
            **({"constraints": m["constraints"]} if m.get("constraints") else {}),
            **{k: m[k] for k in self._PER_FILE_KEYS if k in m},
        }
        if not self._try_publish(manifest, parent + 1):
            shutil.rmtree(os.path.join(self.root, rel_dir), ignore_errors=True)
            raise CommitConflictError(
                "snapshot moved under compact_deletes; re-run the maintenance job"
            )
        return parent + 1

    def history(self) -> "list[dict]":
        """The commit log as data (Delta's DESCRIBE HISTORY shape), one
        dict per retained version: version / parent / action / n_rows /
        n_files / committed_at_s / epoch_id, newest first. Pure metadata
        — O(retained versions) JSON reads, zero data files opened."""
        out = []
        for v in reversed(self.versions()):
            m = self.manifest(v)
            out.append(
                {
                    "version": m["version"],
                    "parent": m.get("parent"),
                    "action": m["action"],
                    "n_rows": m["n_rows"],
                    "n_files": len(m["files"]),
                    "n_deletes": len(m.get("deletes") or []),
                    "committed_at_s": m.get("committed_at_s"),
                    "epoch_id": m.get("epoch_id"),
                }
            )
        return out

    def version_asof(self, ts_s: float) -> int:
        """The newest version committed at or before `ts_s` (epoch
        seconds) — timestamp-based time travel. Raises if the earliest
        retained commit is later than `ts_s` (the state at that moment
        has been vacuumed or never existed)."""
        best = None
        for v in self.versions():
            c = self.manifest(v).get("committed_at_s")
            if c is not None and c <= ts_s:
                best = v
        if best is None:
            raise FileNotFoundError(
                f"no version at or before ts={ts_s} at {self.root!r} "
                "(vacuumed or before table creation)"
            )
        return best

    def read_asof(self, spark: SparkSession, ts_s: float) -> DataFrame:
        """`read` at the snapshot that was current at `ts_s`."""
        return self.read(spark, self.version_asof(ts_s))

    def restore(self, spark: SparkSession, version: int) -> int:
        """Roll the table BACK to `version` as a NEW commit (Delta
        RESTORE): the new manifest points at the old version's files,
        DVs, schema, and rename map — zero data copied, and the
        intermediate history stays time-travel readable. Requires the
        restored version's files to still exist (not vacuumed).
        Concurrent writers lose or win atomically like any commit."""
        target = self.manifest(version)  # raises if vacuumed
        for f in target["files"]:
            if not os.path.exists(os.path.join(self.root, f)):
                raise FileNotFoundError(
                    f"restore({version}): data file {f!r} was vacuumed — "
                    "the snapshot is no longer reconstructible"
                )
        for d in target.get("deletes") or []:
            if not os.path.exists(os.path.join(self.root, d)):
                raise FileNotFoundError(
                    f"restore({version}): DV sidecar {d!r} was vacuumed"
                )
        last: CommitConflictError | None = None
        for _ in range(10):
            parent = self.latest_version()
            manifest = {
                "format_version": FORMAT_VERSION,
                "version": parent + 1,
                "parent": parent,
                "action": "restore",
                "files": list(target["files"]),
                "n_rows": target["n_rows"],
                "epoch_id": None,
                "schema": target.get("schema"),
                "committed_at_s": round(time.time(), 3),
                **(
                    {"deletes": list(target["deletes"])}
                    if target.get("deletes")
                    else {}
                ),
                **({"evolved": True} if target.get("evolved") else {}),
                **(
                    {"renames": dict(target["renames"])}
                    if target.get("renames")
                    else {}
                ),
                **(
                    {"tombstones": list(target["tombstones"])}
                    if target.get("tombstones")
                    else {}
                ),
                **(
                    {"constraints": dict(target["constraints"])}
                    if target.get("constraints")
                    else {}
                ),
                **{k: target[k] for k in self._PER_FILE_KEYS if k in target},
            }
            if self._try_publish(manifest, parent + 1):
                return parent + 1
            last = CommitConflictError("restore lost the publish race")
        raise CommitConflictError("restore: retries exhausted") from last

    def clone_to(self, dest_root: str, version: "int | None" = None) -> int:
        """Deep clone (Delta CLONE, deep form): copy the chosen
        snapshot's data dirs + DV sidecars into `dest_root` and publish
        a fresh v0 manifest there carrying the full logical surface —
        schema, evolution marker, renames, tombstones, CHECK
        constraints, per-file stats/rows/buckets; bloom and NDV
        sidecars live inside the data dirs and travel with the copy.
        Relative file paths are preserved 1:1, so every read path
        (pruned, DV-aware, renamed, bucketed-merge) works on the clone
        unchanged. History is collapsed: the clone starts at version 0
        with its OWN files — vacuum/restore/writes on either table can
        never affect the other (the shallow-clone tradeoff this
        deliberately avoids: cross-root references would make one
        table's vacuum another table's data loss).

        Cost is a full data copy of the LIVE snapshot only (dirs not
        referenced by `version` are skipped — the clone is also a
        compaction of history debt). Returns the clone's version (0).
        A bucketed table's clone carries its bucket map; open it with a
        BucketedManifestTable handle of the same key/n_buckets."""
        m = self.manifest(version)
        dest = ManifestTable(
            dest_root,
            stats_cols=list(self.stats_cols) or None,
            bloom_cols=list(self.bloom_cols) or None,
            bloom_fpp=self.bloom_fpp,
            ndv_cols=list(self.ndv_cols) or None,
        )
        if dest.latest_version() is not None:
            raise ValueError(f"clone_to: {dest_root!r} already has commits")
        dirs = {os.path.dirname(f) for f in m["files"]}
        dirs |= {d for d in (m.get("deletes") or [])}
        for rel in sorted(dirs):
            src = os.path.join(self.root, rel)
            if not os.path.exists(src):
                raise FileNotFoundError(
                    f"clone_to: {rel!r} was vacuumed — snapshot not "
                    "reconstructible"
                )
            shutil.copytree(src, os.path.join(dest_root, rel))
        live = set(m["files"])
        manifest = {
            "format_version": FORMAT_VERSION,
            "version": 0,
            "parent": None,
            "action": "clone",
            "files": list(m["files"]),
            "n_rows": m["n_rows"],
            "epoch_id": None,
            "schema": m.get("schema"),
            "committed_at_s": round(time.time(), 3),
            **({"deletes": list(m["deletes"])} if m.get("deletes") else {}),
            **({"evolved": True} if m.get("evolved") else {}),
            **({"renames": dict(m["renames"])} if m.get("renames") else {}),
            **(
                {"tombstones": list(m["tombstones"])}
                if m.get("tombstones")
                else {}
            ),
            **(
                {"constraints": dict(m["constraints"])}
                if m.get("constraints")
                else {}
            ),
            # per-file maps filtered to the live snapshot: the clone has
            # no history, so dead files' entries must not ride along
            **{
                k: {f: v for f, v in m[k].items() if f in live}
                for k in self._PER_FILE_KEYS
                if k in m
            },
        }
        if not dest._try_publish(manifest, 0):
            raise CommitConflictError(
                f"clone_to: a concurrent writer created {dest_root!r} v0"
            )
        return 0

    def vacuum(self, retain_last: int = 1, min_age_s: float = 3600.0) -> dict:
        """Reclaim space: drop manifests older than the last `retain_last`
        and delete data dirs no retained manifest references (covers
        crash orphans — dirs written but never published). `min_age_s`
        protects an in-flight writer's just-written-but-not-yet-published
        dir from deletion: such a dir is unreferenced at vacuum time, and
        deleting it would let the writer publish a manifest pointing at
        missing files (silent loss of the latest snapshot). The default is
        deliberately conservative (1 h — longer than any sane write+publish
        window); tests pass 0 explicitly to reclaim immediately.

        Epoch markers of dropped manifests fold into the `epochs.json`
        side file FIRST (fsync'd atomic replace), so idempotent-epoch
        detection survives log truncation — exactly-once must outlive
        vacuum. Run one vacuum at a time (maintenance job); data commits
        may race it freely.
        """
        vs = self.versions()
        keep_vs = vs[-retain_last:] if retain_last > 0 else []
        live_dirs = set()
        for v in keep_vs:
            mv = self.manifest(v)
            for f in mv["files"]:
                live_dirs.add(f.split(os.sep)[1])  # data/<token>/part → token
            for d in mv.get("deletes") or []:  # deletion-vector sidecars
                live_dirs.add(d.split(os.sep)[1])
        drop_vs = [v for v in vs if v not in keep_vs]
        retired = {
            str(e)
            for v in drop_vs
            if (e := self.manifest(v).get("epoch_id")) is not None
        }
        if retired:
            merged = sorted(self._retired_epochs() | retired)
            p = os.path.join(self.root, _LOG_DIR, self._EPOCHS_FILE)
            tmp = p + f".tmp-{uuid.uuid4().hex}"
            with open(tmp, "w") as fh:
                json.dump(merged, fh)
                fh.flush()
                os.fsync(fh.fileno())
            os.replace(tmp, p)  # atomic: readers see old or new, never torn
        removed_manifests = []
        for v in drop_vs:
            os.unlink(self._manifest_path(v))
            removed_manifests.append(v)
        removed_dirs = []
        data_root = os.path.join(self.root, _DATA_DIR)
        now = time.time()
        for token in os.listdir(data_root):
            p = os.path.join(data_root, token)
            if token not in live_dirs and now - os.path.getmtime(p) >= min_age_s:
                shutil.rmtree(p)
                removed_dirs.append(token)
        return {"removed_versions": removed_manifests, "removed_data_dirs": sorted(removed_dirs)}


class BucketedManifestTable(ManifestTable):
    """Manifest table with a hash-bucketed data layout: every data dir is
    written `partitionBy(bucket)` where bucket = pmod(xxhash64(key), B).

    What this buys at scale — MERGE stops being O(table):
    `merge_upsert` rewrites ONLY the buckets that contain updated keys;
    every other bucket's files carry forward into the new manifest BY
    REFERENCE (no read, no write, no shuffle). A 100-row upsert against
    a 10⁹-row table costs ~(touched buckets / B) of a full rewrite —
    the same pruning idea as streaming ingest's id_bucket layout
    (streaming/ingest.py), applied to the transaction log.

    The bucket spec (key, B) is part of the on-disk layout and persisted
    in `_table.json` at creation; a handle opened with a conflicting
    spec raises instead of silently mis-bucketing (the n_buckets lesson
    from ADVICE r3). Manifests additionally carry per-file `buckets` and
    `file_rows` maps so bounded merges can assemble the next snapshot
    and its exact row count without reading any parquet.
    """

    TABLE_MARKER = "_table.json"

    def compact_small(
        self,
        spark,
        max_files_per_bucket: int = 4,
        max_retries: int = 5,
        **_ignored,
    ):
        """WITHIN-BUCKET small-file compaction (round 8) — the
        maintenance pass the streaming sink story needs: every epoch's
        bucket-partitioned append adds one file per touched bucket, so
        after E epochs a hot bucket holds E files and read/merge
        planning degrades linearly. This pass rewrites ONLY the buckets
        whose file count exceeds `max_files_per_bucket`; every other
        bucket's files carry forward BY REFERENCE (no read, no write)
        — compaction IO tracks epoch debt, never table size, and the
        hash layout contract (one `__bucket__=N` dir per bucket) is
        preserved because the rewrite goes through the bucketed
        `_write_data_dir`. Cross-bucket merging (the base class's
        size-based selection) is deliberately NOT offered: it would
        break the per-file bucket map the bounded MERGE prunes with.

        DV-aware like the bounded merge: rewritten buckets materialize
        their deletion vectors away; DV rows referencing untouched
        files are carried into one fresh consolidated sidecar. Files
        with no recorded bucket (foreign/hand-assembled layout) are
        treated as over-threshold — they get rewritten INTO the bucket
        layout, healing the table. Returns the new version, or None
        when no bucket qualifies. Loses cleanly to concurrent writers
        (CommitConflictError after retries — maintenance never
        clobbers data)."""
        if max_files_per_bucket < 1:
            raise ValueError("max_files_per_bucket must be >= 1")
        last: CommitConflictError | None = None
        for _ in range(max_retries):
            parent = self.latest_version()
            if parent is None:
                raise FileNotFoundError(f"no committed version at {self.root!r}")
            pm = self.manifest(parent)
            bmap, rmap = pm.get("buckets", {}), pm.get("file_rows", {})
            per_bucket: dict = {}
            foreign = []
            for f in pm["files"]:
                b = bmap.get(f)
                if b is None:
                    foreign.append(f)
                else:
                    per_bucket.setdefault(int(b), []).append(f)
            crowded = {
                b for b, fs in per_bucket.items()
                if len(fs) > max_files_per_bucket
            }
            rewrite = foreign + [
                f for b in sorted(crowded) for f in per_bucket[b]
            ]
            if not rewrite:
                return None
            untouched = [f for f in pm["files"] if f not in set(rewrite)]
            cur = self._read_files(
                spark, [os.path.join(self.root, f) for f in rewrite], pm
            )
            dvs = pm.get("deletes") or []
            if dvs:
                cur = self._apply_deletes(spark, cur, pm)
            new_files, n_new = self._write_data_dir(cur)
            carried_rel: str | None = None
            n_dv_carried = 0
            if dvs and untouched:
                from pyspark.sql import Observation

                dv_keep = spark.read.parquet(
                    *[os.path.join(self.root, d) for d in dvs]
                ).filter(F.col("file").isin(untouched))
                token = uuid.uuid4().hex[:16]
                carried_rel = os.path.join(_DATA_DIR, token)
                obs = Observation()
                dv_keep.observe(obs, F.count(F.lit(1)).alias("n")).write.parquet(
                    os.path.join(self.root, carried_rel)
                )
                n_dv_carried = int(obs.get["n"] or 0)
                if n_dv_carried == 0:
                    shutil.rmtree(
                        os.path.join(self.root, carried_rel), ignore_errors=True
                    )
                    carried_rel = None
            n_untouched = sum(self._exact_file_rows(rmap, f) for f in untouched) - n_dv_carried
            smap = pm.get("stats", {})
            nmap = pm.get("nulls", {})
            self._pending_extra = {
                "buckets": {**{f: bmap[f] for f in untouched},
                            **self._pending_extra["buckets"]},
                "file_rows": {**{f: self._exact_file_rows(rmap, f) for f in untouched},
                              **self._pending_extra["file_rows"]},
                **(
                    {"stats": {**{f: smap[f] for f in untouched if f in smap},
                               **self._pending_extra.get("stats", {})}}
                    if (smap or self.stats_cols) else {}
                ),
                **(
                    {"nulls": {**{f: nmap[f] for f in untouched if f in nmap},
                               **self._pending_extra.get("nulls", {})}}
                    if (nmap or self.stats_cols) else {}
                ),
            }
            try:
                return self._commit(
                    "compact",
                    untouched + new_files,
                    n_untouched + n_new,
                    keep_parent_files=False,
                    expected_parent=parent,
                    deletes=[carried_rel] if carried_rel else None,
                )
            except CommitConflictError as exc:
                last = exc
                if carried_rel:
                    shutil.rmtree(
                        os.path.join(self.root, carried_rel), ignore_errors=True
                    )
                self._drop_failed_write(new_files)
        raise CommitConflictError(
            f"compact_small: {max_retries} retries exhausted"
        ) from last

    def __init__(
        self,
        root: str,
        key: str | None = None,
        n_buckets: int | None = None,
        stats_cols: list[str] | None = None,
        bloom_cols: list[str] | None = None,
        bloom_fpp: float = 0.01,
    ):
        super().__init__(
            root, stats_cols=stats_cols, bloom_cols=bloom_cols,
            bloom_fpp=bloom_fpp,
        )
        marker = os.path.join(root, self.TABLE_MARKER)
        if os.path.exists(marker):
            with open(marker) as fh:
                cfg = json.load(fh)
            if key is not None and key != cfg["key"]:
                raise ValueError(
                    f"table at {root!r} is bucketed by {cfg['key']!r}, not {key!r}"
                )
            if n_buckets is not None and n_buckets != cfg["n_buckets"]:
                raise ValueError(
                    f"table at {root!r} has n_buckets={cfg['n_buckets']}, "
                    f"not {n_buckets} — the fan-out is fixed at creation"
                )
            self.key, self.n_buckets = cfg["key"], int(cfg["n_buckets"])
        else:
            if key is None:
                raise ValueError(f"no table marker at {root!r}: pass key= to create")
            self.key, self.n_buckets = key, int(n_buckets or 16)
            with open(marker, "w") as fh:
                json.dump({"key": self.key, "n_buckets": self.n_buckets}, fh)

    def rename_column(self, old: str, new: str) -> int:
        """Renames compose with the bucketed layout for every column
        EXCEPT the bucket key: the hash layout, the per-file bucket map,
        and the merge contract are all keyed on its physical name, so
        renaming it is rejected (rewrite into a new table to re-key)."""
        if self._phys_name(old) == self.key or new == self.key:
            raise ValueError(
                f"rename_column: {self.key!r} is the bucket key — the hash "
                "layout is keyed on it; rewrite into a new table to rename it"
            )
        return super().rename_column(old, new)

    def drop_column(self, name: str) -> int:
        if self._phys_name(name) == self.key:
            raise ValueError(
                f"drop_column: {self.key!r} is the bucket key — the hash "
                "layout is keyed on it; rewrite into a new table to drop it"
            )
        return super().drop_column(name)

    def _sized_like_parent(self, df: DataFrame, m: dict) -> DataFrame:
        # the bucket count sets the file layout (`_write_data_dir`
        # shuffles by bucket); a coalesce would only narrow the map side
        return df

    def _bucket_col(self):
        return F.pmod(
            F.xxhash64(F.col(self.key).cast("string")), F.lit(self.n_buckets)
        ).cast("int")

    def _exact_file_rows(self, rmap: dict, f: str) -> int:
        """Row count for an untouched carried-forward file. count_rows
        is documented EXACT, so a file missing from the parent's
        file_rows map must not silently contribute 0 (that would
        permanently corrupt the committed n_rows) — fall back to the
        parquet footer (a metadata read, no data scan) and memoize."""
        n = rmap.get(f)
        if n is None:
            import pyarrow.parquet as _pq

            n = _pq.ParquetFile(
                os.path.join(self.root, f)
            ).metadata.num_rows
            rmap[f] = n
        return int(n)

    def _drop_failed_write(self, new_files: list[str]) -> None:
        """After a CommitConflictError, the attempt's freshly written
        rewrite files are referenced by NO manifest; drop their write
        dir(s) so conflicted retries don't leak a full rewrite of the
        touched buckets to disk on every loop."""
        for d in {os.path.dirname(os.path.dirname(f)) for f in new_files}:
            if d:
                shutil.rmtree(os.path.join(self.root, d), ignore_errors=True)

    def _write_data_dir(
        self,
        df,
        sort_by: list[str] | None = None,
        n_files: int | None = None,
        cluster_by: list[str] | None = None,
    ) -> tuple[list[str], int]:
        """Bucket-partitioned write; stages per-file (bucket, rows) maps
        (`n_files` is ignored — the bucket count IS the layout contract)
        for the next _commit. Per-file row counts come from the parquet
        footers — metadata reads, not data scans. `sort_by` sorts rows
        WITHIN each bucket (buckets cluster by hash for merges; the sort
        adds row-group-stat skipping for range predicates inside them).

        The repartition on the bucket column is load-bearing: a naive
        `partitionBy` fans every upstream task across every bucket
        directory — measured 8,123 files for a 1M-row × 256-bucket
        write (tasks × buckets), a 29 s write and a manifest bloated
        past the point where bounded merges win. Aligning writers to
        buckets first costs one shuffle and caps the fan-out at one
        file per bucket (write 12 s, 256 files). Pick n_buckets so a
        bucket ≈ one task's worth of data; for buckets larger than an
        executor's comfort, `maxRecordsPerFile` splits within a bucket
        without changing the layout contract."""
        import pyarrow.parquet as pq
        from pyspark.sql import Observation

        if cluster_by:
            raise ValueError(
                "bucketed layout clusters files by HASH of the merge key; "
                "Z-order file clustering does not compose with it — use "
                "sort_by for within-bucket ordering, or a plain "
                "ManifestTable with cluster_by"
            )
        # physicalize chokepoint (see base class) — the bucket KEY can
        # never be renamed (guarded in rename_column), so _bucket_col()
        # resolves on the physical frame unchanged
        m_cur = None
        v_cur = self.latest_version()
        if v_cur is not None:
            m_cur = self.manifest(v_cur)
        df = self._physicalize_df(df, m_cur)
        if sort_by:
            sort_by = [self._phys_name(c, m_cur) for c in sort_by]
        stats_cols = [self._phys_name(c, m_cur) for c in self.stats_cols]
        token = uuid.uuid4().hex[:16]
        rel_dir = os.path.join(_DATA_DIR, token)
        out_dir = os.path.join(self.root, rel_dir)
        self._pending_schema = _schema_sig(df)
        obs = Observation()
        bucketed = df.withColumn("__bucket__", self._bucket_col()).repartition(
            self.n_buckets, F.col("__bucket__")
        )
        if sort_by:
            bucketed = bucketed.sortWithinPartitions("__bucket__", *sort_by)
        (
            bucketed.observe(obs, F.count(F.lit(1)).alias("n"))
            .write.partitionBy("__bucket__")
            .parquet(out_dir)
        )
        n = int(obs.get["n"] or 0)
        files, buckets, file_rows = [], {}, {}
        for sub in sorted(os.listdir(out_dir)):
            if not sub.startswith("__bucket__="):
                continue
            b = int(sub.split("=", 1)[1])
            for f in sorted(os.listdir(os.path.join(out_dir, sub))):
                if f.endswith(".parquet"):
                    rel = os.path.join(rel_dir, sub, f)
                    files.append(rel)
                    buckets[rel] = b
                    file_rows[rel] = pq.ParquetFile(
                        os.path.join(self.root, rel)
                    ).metadata.num_rows
        self._pending_extra = {"buckets": buckets, "file_rows": file_rows}
        if stats_cols:
            self._pending_extra["stats"] = {
                rel: _file_stats(os.path.join(self.root, rel), stats_cols)
                for rel in files
            }
            self._pending_extra["nulls"] = {
                rel: _file_nulls(os.path.join(self.root, rel), stats_cols)
                for rel in files
            }
        if self.bloom_cols:
            self._write_blooms(
                out_dir, files,
                cols=[self._phys_name(c, m_cur) for c in self.bloom_cols],
            )
        if self.ndv_cols:
            ndv_phys = [self._phys_name(c, m_cur) for c in self.ndv_cols]
            by_dir: dict = {}
            for rel in files:
                entry = _file_ndv_registers(os.path.join(self.root, rel), ndv_phys)
                if entry:
                    by_dir.setdefault(
                        os.path.dirname(os.path.join(self.root, rel)), {}
                    )[os.path.basename(rel)] = entry
            for d, sidecar in by_dir.items():
                with open(os.path.join(d, "_ndv.json"), "w") as fh:
                    json.dump(sidecar, fh)
        return files, n

    def read_buckets(
        self, spark: SparkSession, buckets, version: int | None = None
    ) -> DataFrame:
        """Snapshot rows whose hash bucket ∈ `buckets`, reading ONLY the
        files the manifest's per-file bucket map assigns to those
        buckets — metadata-only pruning (no parquet footer is opened to
        decide), with DV rows subtracted and the logical schema applied
        like read().

        This is the per-epoch dedup read of the bucketed streaming sink
        (streaming/ingest.py bucketed_manifest_sink): cost is
        ∝ |touched buckets| / n_buckets of the table, never O(table).
        Files missing from the bucket map (none are produced by this
        class; defensive for hand-assembled logs) are read rather than
        skipped — unknown metadata must degrade to extra IO, not silent
        row loss."""
        m = self.manifest(version)
        bset = {int(b) for b in buckets}
        bad = [b for b in bset if not (0 <= b < self.n_buckets)]
        if bad:
            raise ValueError(
                f"read_buckets: bucket ids {sorted(bad)} outside "
                f"[0, {self.n_buckets})"
            )
        bmap = m.get("buckets") or {}
        keep = [
            f for f in m["files"] if f not in bmap or int(bmap[f]) in bset
        ]
        return self._pruned_filtered(spark, keep, None, m)

    # delete_where_dv / merge_upsert_dv are inherited: positional
    # deletes compose with the bucketed layout because (a) the DV join
    # key (_file_rel_col) resolves bucketed paths, and (b) the bounded
    # merge below is DV-aware — it materializes deletes away for the
    # buckets it rewrites and carries forward the DV rows that
    # reference its untouched files (round 6; closes the r5 hazard
    # where the bounded merge silently resurrected soft-deleted rows).

    def merge_upsert(
        self, spark: SparkSession, updates: DataFrame, key: str | None = None,
        max_retries: int = 5,
    ) -> int:
        """Bounded-rewrite MERGE: rewrite only the buckets containing
        updated keys; untouched buckets carry forward by reference."""
        key = key or self.key
        if key != self.key:
            raise ValueError(
                f"merge key {key!r} must be the table's bucket key {self.key!r}"
            )
        if updates.filter(F.col(key).isNull()).limit(1).count() > 0:
            raise ValueError("merge_upsert: null merge keys are invalid")
        self._assert_unique_keys(updates, key)
        pv = self.latest_version()
        if pv is not None:
            # existing rows already satisfied the constraints at their
            # own commit time — only the update batch needs the pass
            self._enforce_constraints(updates, self.manifest(pv))
        last: CommitConflictError | None = None
        for _ in range(max_retries):
            parent = self.latest_version()
            if parent is None:
                files, n = self._write_data_dir(updates)
                try:
                    return self._commit(
                        "merge", files, n, keep_parent_files=False, expected_parent=None
                    )
                except CommitConflictError as exc:
                    last = exc
                    continue
            touched = sorted(
                r["b"]
                for r in updates.select(self._bucket_col().alias("b")).distinct().collect()
            )
            pm = self.manifest(parent)
            # the rewrite-side scan below is PHYSICAL; align the batch
            # (the bucket KEY itself can never be renamed — guarded)
            updates = self._physicalize_df(updates, pm)
            bmap, rmap = pm.get("buckets", {}), pm.get("file_rows", {})
            # files with no recorded bucket (foreign layout) must be
            # treated as touched — correctness over pruning
            untouched = [
                f for f in pm["files"]
                if bmap.get(f) is not None and bmap[f] not in touched
            ]
            rewrite = [f for f in pm["files"] if f not in set(untouched)]
            dvs = pm.get("deletes") or []
            if rewrite:
                cur = self._read_files(
                    spark, [os.path.join(self.root, f) for f in rewrite], pm
                )
                if dvs:
                    # soft-deleted rows in the rewritten buckets must not
                    # be resurrected by the rewrite — materialize their
                    # deletion vectors away here
                    cur = self._apply_deletes(spark, cur, pm)
                merged = cur.join(
                    updates.select(key).distinct(), key, "left_anti"
                ).unionByName(updates)
            else:
                merged = updates  # pure insert: no existing file shares a bucket
            new_files, n_new = self._write_data_dir(merged)
            # DV rows referencing untouched files stay live and must
            # follow them into the new manifest (consolidated into one
            # fresh sidecar — rows for rewritten files just died with
            # their files); n_untouched counts LIVE rows, so the carried
            # positions are subtracted from the physical file_rows sums
            carried_rel: str | None = None
            n_dv_carried = 0
            if dvs and untouched:
                from pyspark.sql import Observation

                dv_keep = spark.read.parquet(
                    *[os.path.join(self.root, d) for d in dvs]
                ).filter(F.col("file").isin(untouched))
                token = uuid.uuid4().hex[:16]
                carried_rel = os.path.join(_DATA_DIR, token)
                obs = Observation()
                dv_keep.observe(obs, F.count(F.lit(1)).alias("n")).write.parquet(
                    os.path.join(self.root, carried_rel)
                )
                n_dv_carried = int(obs.get["n"] or 0)
                if n_dv_carried == 0:
                    shutil.rmtree(
                        os.path.join(self.root, carried_rel), ignore_errors=True
                    )
                    carried_rel = None
            n_untouched = sum(self._exact_file_rows(rmap, f) for f in untouched) - n_dv_carried
            # staged extra must also carry the untouched files' map rows
            smap = pm.get("stats", {})
            nmap = pm.get("nulls", {})
            self._pending_extra = {
                "buckets": {**{f: bmap[f] for f in untouched},
                            **self._pending_extra["buckets"]},
                "file_rows": {**{f: self._exact_file_rows(rmap, f) for f in untouched},
                              **self._pending_extra["file_rows"]},
                **(
                    {"stats": {**{f: smap[f] for f in untouched if f in smap},
                               **self._pending_extra.get("stats", {})}}
                    if (smap or self.stats_cols) else {}
                ),
                **(
                    {"nulls": {**{f: nmap[f] for f in untouched if f in nmap},
                               **self._pending_extra.get("nulls", {})}}
                    if (nmap or self.stats_cols) else {}
                ),
            }
            try:
                return self._commit(
                    "merge",
                    untouched + new_files,
                    n_untouched + n_new,
                    keep_parent_files=False,
                    expected_parent=parent,
                    deletes=[carried_rel] if carried_rel else None,
                )
            except CommitConflictError as exc:
                last = exc
                if carried_rel:
                    shutil.rmtree(
                        os.path.join(self.root, carried_rel), ignore_errors=True
                    )
                self._drop_failed_write(new_files)
        raise CommitConflictError(f"merge_upsert: {max_retries} retries exhausted") from last

    # compact() is inherited: the overridden _write_data_dir keeps the
    # rewritten snapshot bucket-partitioned automatically.


def estimate_equi_join_rows(
    left: "ManifestTable",
    right: "ManifestTable",
    key: str,
    right_key: str | None = None,
    left_version: int | None = None,
    right_version: int | None = None,
) -> float:
    """Metadata-only equi-join cardinality estimate — the System-R
    formula |L|·|R| / max(ndv_L(key), ndv_R(key)) computed entirely
    from the two manifests: exact live row counts (`count_rows`) and
    the per-file HLL register sidecars (`ndv_estimate`). ZERO data
    files are opened.

    This is the optimizer-style pre-flight a 100 TB join deserves:
    decide broadcast vs shuffle vs bloom-reduction (bloomjoin.py)
    BEFORE launching any job, from two JSON reads. The estimate
    inherits the standard independence/containment assumptions (each
    distinct key on the smaller-NDV side joins uniformly) and
    ndv_estimate's ~4.6% register error and superset semantics
    (DV-deleted rows still count toward NDV, while row counts are
    live-exact — so heavily-deleted tables skew the estimate LOW on
    rows and HIGH on NDV, both conservative for broadcast decisions).
    Raises like ndv_estimate when a side lacks registers for its key.
    """
    rk = key if right_key is None else right_key
    nl = left.count_rows(left_version)
    nr = right.count_rows(right_version)
    if nl == 0 or nr == 0:
        return 0.0
    dl = left.ndv_estimate(key, left_version)
    dr = right.ndv_estimate(rk, right_version)
    return (nl * nr) / max(dl, dr, 1.0)
