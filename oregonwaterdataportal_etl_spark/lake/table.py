"""Snapshot-versioned, bucket-partitioned parquet table with MERGE.

This is the engine's sink. It implements the subset of Iceberg
semantics the CDC engine needs — atomic snapshot commits, bucketed
copy-on-write MERGE with partition pruning, additive schema evolution,
time-travelable history — over plain parquet, because no Iceberg jars
ship in this sandbox. On a real cluster the ``merge`` call is the
moral equivalent of::

    MERGE INTO target t USING updates u
    ON t.conv_id = u.conv_id AND t.turn_idx = u.turn_idx
    WHEN MATCHED AND u.op = 'delete' AND u.lsn > t._lsn THEN DELETE
    WHEN MATCHED AND u.lsn > t._lsn THEN UPDATE SET *
    WHEN NOT MATCHED AND u.op != 'delete' THEN INSERT *

and the class is shaped so an Iceberg-backed implementation drops in
behind the same API.

Reference parity (SURVEY.md section 2):
- K1/K2/K4 idempotent check-then-insert sinks
  (userCode/wrd/dag.py:256-314, userCode/groundwater/dag.py:62-148,
  userCode/xlsx/dag.py:79-96) -> the NOT-MATCHED insert arm;
- the per-row LSN guard reproduces the reference's "duplicate create
  is tolerated / 500-as-duplicate" semantics (userCode/test_frost.py
  duplicate-id tests) as a no-op update;
- A7 counter aggregates over sink results
  (userCode/groundwater/dag.py:63-148) -> MergeResult row counts.

Scale design (100 TB):
- data is hash-bucketed on the FULL key (conv_id AND turn_idx) with
  Spark's own HashPartitioning function; a merge reads ONLY the
  buckets the update batch touches (partition pruning at the
  file-manifest level);
- full-key bucketing IS the skew treatment (north_rule's "salted,
  key-partitioned shuffle"): a hot conversation spreads over buckets
  by turn_idx, so no task absorbs it whole — structural salting;
- copy-on-write at bucket granularity: untouched buckets carry their
  file references forward into the new snapshot — no data movement;
- commits are atomic: write snapshot JSON, then os.replace() of the
  CURRENT pointer (rename is atomic on POSIX; on object stores this
  is Iceberg's metadata swap).
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid
from collections import Counter
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

class CommitConflictError(RuntimeError):
    """Another writer committed the same snapshot version first."""


POINTER = "CURRENT"  # the pointer file of a pointer-mode ManifestChain


def _fsync_dir(path: str) -> None:
    """fsync a directory so renames/creates in it survive power loss
    (no-op on platforms without O_DIRECTORY semantics)."""
    try:
        fd = os.open(path, os.O_RDONLY)
        try:
            os.fsync(fd)
        finally:
            os.close(fd)
    except OSError:
        pass


def _fsynced_tmp(path: str, text: str) -> str:
    """Write ``text`` to a private ``<path>.tmp-<hex>`` file, fsync it
    and return its name."""
    tmp = path + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        f.write(text)
        f.flush()
        os.fsync(f.fileno())
    return tmp


def durable_replace(path: str, text: str) -> None:
    """Replace ``path`` with ``text`` so that a crash leaves the old or
    the new content, complete, and the new one survives power loss:
    tmp + fsync, os.replace, fsync of the directory."""
    os.replace(_fsynced_tmp(path, text), path)
    _fsync_dir(os.path.dirname(path))


def durable_link(path: str, text: str) -> None:
    """Publish ``text`` as the immutable file ``path``, complete before
    it is named: tmp + fsync, then os.link, which raises
    FileExistsError when ``path`` already exists (fail-if-exists, the
    arbitration of every optimistic commit). The caller fsyncs the
    directory once its publishes are done."""
    tmp = _fsynced_tmp(path, text)
    try:
        os.link(tmp, path)
    finally:
        try:
            os.unlink(tmp)
        except OSError:
            pass


def versioned_commit(
    meta_dir: str,
    manifest_name: str,
    version: int,
    manifest: dict,
    pointer_name: str | None = POINTER,
) -> None:
    """THE commit discipline, under every ManifestChain and, through
    its durable_link/durable_replace steps, the cdc offset and batch
    logs (one implementation so a durability fix lands everywhere):

    1. write the manifest JSON to a PRIVATE tmp file and fsync it;
    2. publish it with os.link(tmp, manifest_name) — link has the same
       fail-if-exists semantics as O_EXCL, so two committers that both
       read the same parent race to create the same name and the loser
       gets CommitConflictError instead of silently clobbering the
       winner (Iceberg's metadata-swap semantics). Because the JSON is
       complete and fsynced BEFORE the name exists, manifest existence
       IMPLIES manifest completeness: no reader or rival can ever
       observe a half-written manifest (review finding — the previous
       O_EXCL-create-then-write left a window in which a rival's
       roll-forward could swing the pointer onto an empty file);
    3. atomically swing the pointer (write tmp, fsync, os.replace);
    4. fsync the metadata directory (rename/create durability).

    pointer_name=None selects RENAME-FREE mode for object stores
    without atomic rename: steps 3-4 are skipped entirely and the
    current version is DERIVED as the highest published manifest
    (``latest_manifest_version``) — valid precisely because of the
    existence-implies-completeness guarantee above. Conflicts still
    arbitrate on the manifest create; there is no pointer, hence no
    orphan-pointer recovery to need.

    CRASH RECOVERY (pointer mode): a committer that dies between steps
    2 and 3 leaves a fully-durable ORPHAN manifest with the pointer
    still on the parent. Without repair, every later committer computes
    the same next version, hits the orphan's file, and conflicts
    forever — retry loops would livelock. The manifest is written only
    after its data files are complete, so the orphan IS a valid commit
    missing only its pointer swing: on conflict, if the pointer still
    names an older version AND the existing manifest parses as JSON
    (a foreign half-written file from a pre-upgrade writer must NOT be
    pointed at), this function rolls the pointer FORWARD to the orphan
    (idempotent — a merely-slow rival swinging concurrently writes the
    same value) and then raises CommitConflictError so the caller
    re-reads the now-advanced state and retries on top of it.
    """

    def _swing(to_version: int) -> None:
        durable_replace(os.path.join(meta_dir, pointer_name), str(to_version))

    # wall-clock commit stamp (additive, shared by every versioned
    # store): powers timestamp time travel (LakeTable.version_at) and
    # the history metadata frame. setdefault so a replayed/re-published
    # manifest keeps its original time when the caller carries one.
    manifest.setdefault("committed_at", time.time())
    mpath = os.path.join(meta_dir, manifest_name)
    try:
        durable_link(mpath, json.dumps(manifest))
    except FileExistsError as e:
        if pointer_name is None:
            raise CommitConflictError(
                f"version {version} ({manifest_name}) was committed "
                "concurrently; re-read and retry"
            ) from e
        ptr = os.path.join(meta_dir, pointer_name)
        try:
            with open(ptr) as f:
                current = int(f.read().strip())
        except (OSError, ValueError):
            current = None
        if current is None or current < version:
            # candidate orphan from a crashed committer — but only a
            # COMPLETE manifest may be pointed at. Our own publishes are
            # complete-by-construction (link after fsync); an
            # unparseable file is foreign debris, so conflict without
            # swinging rather than wedge readers on broken JSON.
            try:
                with open(mpath) as f:
                    json.load(f)
            except (OSError, ValueError):
                raise CommitConflictError(
                    f"version {version} ({manifest_name}) exists but is "
                    "not a complete manifest; refusing to roll the "
                    "pointer onto it — re-read and retry"
                ) from e
            _swing(version)
            raise CommitConflictError(
                f"version {version} ({manifest_name}) was committed by a "
                "crashed writer; its pointer swing has been completed — "
                "re-read and retry"
            ) from e
        raise CommitConflictError(
            f"version {version} ({manifest_name}) was committed "
            "concurrently; re-read and retry"
        ) from e
    if pointer_name is not None:
        _swing(version)
    else:
        _fsync_dir(meta_dir)


# (path) -> (mtime, size, max_lsn | None): snapshot files are immutable
# once published, so a follower polling read_changes pays each footer
# open once per process, not once per hop
_FOOTER_LSN_CACHE: dict[str, tuple[float, int, int | None]] = {}


def _files_max_lsn(files: list[str]) -> int | None:
    """Max ``_lsn`` across parquet footers — metadata only, no Spark
    job (read_changes' high-watermark + touched-bucket pruning input).
    None = a file lacks usable stats; callers fall back to a scan.
    Cached per (path, mtime, size) — same discipline as
    LsnRangedParquetSource's window pruning."""
    import pyarrow.parquet as pq

    out = None
    for f in files:
        try:
            st_f = os.stat(f)
            cached = _FOOTER_LSN_CACHE.get(f)
            if (
                cached is not None
                and cached[0] == st_f.st_mtime
                and cached[1] == st_f.st_size
            ):
                fmax = cached[2]
            else:
                fmax = None
                md = pq.ParquetFile(f).metadata
                idx = {
                    md.schema.column(i).name: i for i in range(md.num_columns)
                }.get(LSN_COL)
                if idx is not None:
                    for rg in range(md.num_row_groups):
                        s = md.row_group(rg).column(idx).statistics
                        if s is None or not s.has_min_max:
                            fmax = None
                            break
                        fmax = s.max if fmax is None else max(fmax, s.max)
                _FOOTER_LSN_CACHE[f] = (st_f.st_mtime, st_f.st_size, fmax)
            if fmax is None:
                return None
            out = fmax if out is None else max(out, fmax)
        except Exception:
            return None
    return out


def _partition_value_py(v, transform: str) -> str:
    """Python twin of LakeTable._partition_expr for one footer value
    (a UTC datetime, a date, epoch seconds or a string)."""
    import datetime as dt

    if transform == "identity":
        return str(v)
    if isinstance(v, dt.datetime):
        d = (v.astimezone(dt.timezone.utc) if v.tzinfo else v).date()
    elif isinstance(v, dt.date):
        d = v
    else:
        d = dt.date(1970, 1, 1) + dt.timedelta(days=v // 86_400)
    return d.isoformat() if transform == "days" else d.isoformat()[:7]


def _footer_partition_range(files: list[str], snap: dict) -> tuple[str, str] | None:
    """(lowest, highest) partition value of the rows in ``files``, from
    the footers' min/max of the partition column — metadata only. The
    transforms are monotone, so every row's partition lies in it. None
    when a footer has no statistics for the column."""
    import pyarrow.parquet as pq

    lo = hi = None
    for f in files:
        md = pq.ParquetFile(f).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}.get(
            snap["partition_col"]
        )
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics if idx is not None else None
            if st is None or not st.has_min_max:
                return None
            a = _partition_value_py(st.min, snap["transform"])
            z = _partition_value_py(st.max, snap["transform"])
            lo = a if lo is None else min(lo, a)
            hi = z if hi is None else max(hi, z)
    return None if lo is None else (lo, hi)


def _manifest_versions(meta_dir: str, prefix: str, suffix: str) -> list[int]:
    """Versions of the complete ``<prefix><digits><suffix>`` names in a
    directory. Tmp files carry a ``.tmp-<hex>`` suffix and never match."""
    try:
        names = os.listdir(meta_dir)
    except FileNotFoundError:
        return []
    mids = (name[len(prefix): len(name) - len(suffix)] for name in names
            if name.startswith(prefix) and name.endswith(suffix))
    return [int(m) for m in mids if m.isdigit()]


def latest_manifest_version(
    meta_dir: str, prefix: str, suffix: str = ".json"
) -> int | None:
    """Highest published manifest version in a directory — the CURRENT
    derivation for rename-free commit mode. Safe because
    ``versioned_commit`` publishes manifests complete (link-after-fsync):
    any listed name is a finished commit."""
    return max(_manifest_versions(meta_dir, prefix, suffix), default=None)


class ManifestChain:
    """THE version-chain format: versions ``<prefix>NNNNNNNN.json`` in
    ``meta_dir``, published by ``versioned_commit``. Every versioned
    store reads and commits its versions here (LakeTable ``snap-``, a
    WAP stage ``wap-<id>-``,
    WatermarkStore ``v-``, AnnIndex ``ix-``), so the naming, the
    current-version rule and the history listing exist once.

    The current version follows the ``CURRENT`` pointer when it exists
    and is otherwise derived as the highest published manifest (the
    rename-free rule). ``pointer=False`` gives a chain that never
    reads or writes a pointer: a WAP stage overlays its main chain's
    directory and must not follow the main pointer. Versions, history
    and the derivation count only complete ``<prefix><digits>.json``
    names, so a crashed writer's ``.tmp-<hex>`` debris is never read."""

    def __init__(self, meta_dir: str, prefix: str, pointer: bool = True):
        self.meta_dir = meta_dir
        self.prefix = prefix
        self.pointer = pointer

    def path(self, version: int) -> str:
        return os.path.join(self.meta_dir, f"{self.prefix}{version:08d}.json")

    @property
    def _pointer_path(self) -> str:
        return os.path.join(self.meta_dir, POINTER)

    def pointer_text(self) -> str | None:
        """The pointer's raw content; None when there is no pointer."""
        if not self.pointer:
            return None
        try:
            with open(self._pointer_path) as f:
                return f.read().strip()
        except FileNotFoundError:
            return None

    def latest(self) -> int | None:
        return latest_manifest_version(self.meta_dir, self.prefix)

    def current(self) -> int | None:
        """Pointer read, else the highest published manifest; None for
        an empty chain. A pointer that is not a version number raises
        ValueError."""
        raw = self.pointer_text()
        return self.latest() if raw is None else int(raw)

    def exists(self) -> bool:
        return (
            self.pointer and os.path.exists(self._pointer_path)
        ) or self.latest() is not None

    def versions(self) -> list[int]:
        return sorted(_manifest_versions(self.meta_dir, self.prefix, ".json"))

    def read(self, version: int) -> dict:
        with open(self.path(version)) as f:
            return json.load(f)

    def history(self) -> list[dict]:
        return [self.read(v) for v in self.versions()]

    def version_at(self, timestamp: float) -> int:
        """Timestamp time travel (Iceberg TIMESTAMP AS OF): the highest
        settled version whose commit stamp is <= ``timestamp`` (epoch
        seconds). Versions beyond the current one (crashed-committer
        orphans) are excluded: they are not readable state yet. Raises
        ValueError when the chain did not exist at that time or the
        relevant history has been vacuumed away."""
        current = self.current()
        best = None
        for m in self.history():
            ts = m.get("committed_at")
            if m["version"] <= current and ts is not None and ts <= timestamp:
                best = m["version"] if best is None else max(best, m["version"])
        if best is None:
            raise ValueError(
                f"no snapshot committed at or before {timestamp} "
                f"(table created later, or that history was vacuumed)"
            )
        return best

    def commit(self, manifest: dict, rename_free: bool = False) -> None:
        """Publish ``manifest`` as version ``manifest["version"]``;
        swing the pointer unless the chain has none or the commit is
        ``rename_free``. Raises CommitConflictError when the version
        was committed concurrently."""
        os.makedirs(self.meta_dir, exist_ok=True)
        v = manifest["version"]
        versioned_commit(
            self.meta_dir,
            os.path.basename(self.path(v)),
            v,
            manifest,
            pointer_name=POINTER if self.pointer and not rename_free else None,
        )

    def expire(self, versions) -> int:
        """Remove the manifests of ``versions``; returns how many were
        removed."""
        removed = 0
        for v in versions:
            try:
                os.remove(self.path(v))
                removed += 1
            except FileNotFoundError:
                pass
        return removed


_WAP_MANIFEST = re.compile(r"wap-.+-\d+\.json")


def staged_manifests(meta_dir: str, but_prefix: str | None = None) -> list[dict]:
    """Every manifest of every WAP stage chain (``wap-<id>-<digits>.json``)
    in ``meta_dir``, except those of the chain ``but_prefix``;
    unreadable ones are skipped."""
    out = []
    for name in sorted(os.listdir(meta_dir)):
        if not _WAP_MANIFEST.fullmatch(name) or (
            but_prefix is not None and name.startswith(but_prefix)
        ):
            continue
        try:
            with open(os.path.join(meta_dir, name)) as f:
                out.append(json.load(f))
        except (OSError, ValueError):
            continue
    return out


def wap_chain(meta_dir: str, wap_id: str) -> ManifestChain:
    """The staged chain of WAP stage ``wap_id``: ``wap-<id>-`` manifests
    beside the main chain, never a pointer."""
    return ManifestChain(meta_dir, f"wap-{wap_id}-", pointer=False)


LSN_COL = "_lsn"  # per-row last-applied LSN, the MERGE guard column
_BUCKET_COL = "_b"
_ACTION_COL = "_action"  # per-row merge outcome, counted, never written
_DEL_COL = "_del"  # partition dir holding tombstones (winning deletes)
_OP_COL = "_op"  # op column persisted in merge-on-read delta files
# equal-LSN tie-break value persisted in base, tombstone and MOR delta
# files: computed ONCE per batch row, after the merge's exchange
# (LakeTable._resolve_batch), so every later resolve orders
# same-(key,lsn) events from different batches without touching
# payload columns (payload hashing at read time would defeat column
# pruning)
_TB_COL = "_tb"
# codec of every data file the lake writes (base, tombstone, MOR delta,
# bucketed WAL), set per write so it overrides the session's
# spark.sql.parquet.compression.codec: the format does not depend on
# the entry point that wrote it. Parquet records the codec per column
# chunk, so files of another codec (older snappy ones) read beside these.
DATA_FILE_CODEC = "zstd"

# ---- shuffle-byte discipline -------------------------------------
# Every byte that rides the resolve exchange costs DRAM bandwidth at
# every parallelism level (measured: encoding op/role/tool to bytes
# lifted 2->8-core scaling efficiency 0.675 -> 0.76 on 16M events).
# The op column is engine-owned, so it ALWAYS rides as a 1-byte code;
# user columns opt in via dict_cols at table creation.
_OP_BASE, _OP_INSERT, _OP_UPDATE, _OP_DELETE, _OP_TOMBSTONE = 0, 1, 2, 3, 4


def _op_code(col) -> "F.Column":
    """String op -> tinyint code. Unknown ops upsert (engine contract:
    anything that isn't a delete is an upsert), so they code as insert."""
    return (
        F.when(col == "delete", _OP_DELETE)
        .when(col == "update", _OP_UPDATE)
        .when(col == "tombstone", _OP_TOMBSTONE)
        .when(col == "base", _OP_BASE)
        .otherwise(_OP_INSERT)
        .cast("tinyint")
    )


def _op_decode(col) -> "F.Column":
    return (
        F.when(col == _OP_DELETE, "delete")
        .when(col == _OP_UPDATE, "update")
        .when(col == _OP_TOMBSTONE, "tombstone")
        .when(col == _OP_BASE, "base")
        .otherwise("insert")
    )


def _dict_encode(col, values: list[str]):
    """-> (code, fallback): code = index into values (smallint), or
    len(values) as the not-in-dict sentinel; fallback carries the
    original string ONLY for sentinel rows (null otherwise), so unknown
    values survive losslessly while known ones ride as 2 bytes."""
    code = F.lit(len(values)).cast("smallint")
    for i, v in reversed(list(enumerate(values))):
        code = F.when(col == v, F.lit(i).cast("smallint")).otherwise(code)
    fallback = F.when(code == len(values), col)
    return code, fallback


def _dict_decode(code, fallback, values: list[str]):
    out = fallback
    for i, v in enumerate(values):
        out = F.when(code == i, F.lit(v)).otherwise(out)
    return out


# ---- equal-LSN total order ---------------------------------------
# Two BATCH events with the same (key, lsn) had no defined winner
# through round 2 (base-vs-batch ties break by __src). "Replay
# equality" as a contract needs a TOTAL order, so the final tie-break
# is a deterministic 64-bit hash of the payload — higher hash wins
# (desc), matching the "highest sorts first" convention of the LSN.
#
# Two families, the same split as the dedup operators:
# - "xxhash64" (the at-scale DEFAULT): hashes the typed columns
#   directly JVM-side — no canonical-string allocation. Interleaved
#   per-column null flags disambiguate null-shifted payloads (plain
#   xxhash64 skips nulls, so (x, null) and (null, x) would collide).
#   Measured cost at 32M events / 8 cores: 24.5s -> 25.0s (~2%);
#   the md5 family measured 38.0s (+55%) — string build + md5 per
#   update row — which is why it is NOT the default.
# - "md5": canonical string rendering (values cast to string, nulls ->
#   \x00, \x1f-joined), md5, two 60-bit limbs — bit-reproducible in
#   pure Python (tiebreak_py, the oracle fold) and ANSI SQL (the
#   lww_tiebreak DuckDB oracle). Opt in per table with
#   LakeTable.create(tiebreak_family="md5") when cross-engine tie
#   verification matters more than throughput.
# Both are deterministic functions of the payload, so either gives a
# stable winner across runs, input orders, and cluster layouts; the
# family is recorded in the table snapshot so every merge of a table
# orders ties identically.
_TIEBREAK_SEP = "\x1f"
_TIEBREAK_NULL = "\x00"
TIEBREAK_FAMILIES = ("xxhash64", "md5")


def tiebreak_cols(cols: list, family: str = "xxhash64") -> "F.Column":
    """The tie-break value over ``cols``: limb1 XOR limb2, one long. The
    merges evaluate it on batch rows only, after the batch's exchange
    (it is a function of the payload that rides it), and persist it."""
    if family == "md5":
        canon = F.concat_ws(
            _TIEBREAK_SEP,
            *[F.coalesce(c.cast("string"), F.lit(_TIEBREAK_NULL)) for c in cols],
        )
        h = F.md5(canon)
        limb1 = F.conv(F.substring(h, 1, 15), 16, 10).cast("long")
        limb2 = F.conv(F.substring(h, 17, 15), 16, 10).cast("long")
        return limb1.bitwiseXOR(limb2)
    if family != "xxhash64":
        raise ValueError(f"unknown tiebreak family {family!r}")
    # one hash pass total: columns are SPLIT between the limbs (any
    # differing column differentiates its limb, and so the XOR —
    # measured 27.5s -> ~26s on the 32M apply vs two full passes)
    even: list = []
    odd: list = []
    for i, c in enumerate(cols):
        side = even if i % 2 == 0 else odd
        side += [c, F.isnull(c)]
    limb1 = F.xxhash64(*even) if even else F.lit(0).cast("long")
    limb2 = F.xxhash64(*odd) if odd else F.lit(0).cast("long")
    return limb1.bitwiseXOR(limb2)


_LEGACY_TB = ("_tb1", "_tb2")  # the two limbs legacy files store in place of _tb


def _with_stored_tb(df: DataFrame) -> DataFrame:
    """A frame of _side_stored columns with the one _tb: _tb, or a
    legacy file's limb1 XOR limb2, so old and new rows rank alike (null
    in files older than the limbs: such rows lose an exact-LSN tie)."""
    l1, l2 = _LEGACY_TB
    return df.withColumn(
        _TB_COL, F.coalesce(F.col(_TB_COL), F.col(l1).bitwiseXOR(F.col(l2)))
    ).drop(l1, l2)


def tiebreak_py(values) -> int:
    """Pure-Python twin of tiebreak_cols(family="md5") for the
    sequential oracle (xxhash64 is JVM-internal and deliberately has no
    Python twin — use md5-family tables wherever oracle tie equality is
    asserted).
    Canonical rendering parity with Spark's cast-to-string is exact for
    str/int/bool/None (the types that can tie in practice); float and
    timestamp rendering follows Spark's conventions closely enough for
    tests but is not contractual."""
    import hashlib

    def canon(v):
        if v is None:
            return _TIEBREAK_NULL
        if isinstance(v, bool):
            return "true" if v else "false"
        return str(v)

    s = _TIEBREAK_SEP.join(canon(v) for v in values)
    h = hashlib.md5(s.encode("utf-8")).hexdigest()
    return int(h[0:15], 16) ^ int(h[16:31], 16)


def _lww_order(lsn, tb, src=None) -> list["F.Column"]:
    """THE last-writer-wins total order, as an orderBy list (first row
    wins): lsn desc, then the tie-break value desc with nulls last
    (legacy rows without one lose an exact-LSN tie), then — for sides
    that mix base and batch rows — src asc, so the base wins a full tie
    and a redelivered identical event is a no-op. The tie-break comes
    BEFORE src so a cross-batch same-(key, lsn) tie has the same winner
    whether the earlier event already reached the base (cow) or still
    sits in a delta (mor). Arguments are column names or Columns. The
    zero-exchange resolve compares the same order as one struct
    (_zx_cand), whose null fields sort smallest."""
    def col(c):
        return F.col(c) if isinstance(c, str) else c

    order = [col(lsn).desc(), col(tb).desc_nulls_last()]
    if src is not None:
        order.append(col(src).asc())
    return order


def _lww_top1(df: DataFrame, key_cols: list[str], lsn, tb, src=None,
              full_frame: dict | None = None,
              radix: bool = True) -> DataFrame:
    """THE per-key LWW window: each key's first row in the _lww_order
    total order. The incoming batch (LakeTable._resolve_batch), the
    stored versions (LakeTable._side_winners) and cdc.apply.lww_dedup
    all rank here. Grouping by an xxhash64 PREFIX of the keys plus the
    keys is the same grouping, but the per-task sort leads with an
    8-byte numeric radix prefix instead of comparing key strings.
    ``radix=False`` groups by the keys alone: the sort
    is then [keys, _lww_order], which also satisfies a sort-merge join
    on the keys above the window, so that join sorts nothing again.
    ``full_frame`` maps output names to order-independent aggregates
    over the same spec's unbounded frame, so they share the rank's one
    Window operator."""
    keys = [F.col(c) for c in key_cols]
    prefix = [F.xxhash64(*keys)] if radix else []
    w = Window.partitionBy(*prefix, *keys).orderBy(
        *_lww_order(lsn, tb, src=src)
    )
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        df.select(
            "*",
            F.row_number().over(w).alias("__rn"),
            *[agg.over(wfull).alias(n) for n, agg in (full_frame or {}).items()],
        )
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def _side_op() -> "F.Column":
    """Op code of a row of a side-tagged base/tombstone/delta frame
    (LakeTable._side_winners): tombstones and base rows by their side,
    delta rows by their stored op."""
    return (
        F.when(F.col("side") == "t", F.lit(_OP_TOMBSTONE))
        .when(F.col("side") == "d", _op_code(F.col(_OP_COL)))
        .otherwise(F.lit(_OP_BASE))
    )


def retry_on_conflict(fn, attempts: int = 4):
    """Run fn, retrying through CommitConflictError up to ``attempts``
    total tries — THE retry policy for writers sharing a versioned
    store (runner windows, maintenance jobs, index rebuilds). Every
    caller must be idempotent against the re-read CURRENT state, which
    all the engine's commit paths are by construction (LSN guard /
    max-merge / rebuild-from-snapshot)."""
    for i in range(attempts):
        try:
            return fn()
        except CommitConflictError:
            if i == attempts - 1:
                raise


def _and_all(exprs) -> "F.Column":
    """Conjunction fold — the one definition of 'rows match on every
    key column' (lookup() and the changelog diff) and of 'no key value
    is null' (the cow merge's null-key split)."""
    out = None
    for e in exprs:
        out = e if out is None else (out & e)
    return out


def _outer_join_on_keys(left: DataFrame, right: DataFrame, key_cols: list[str],
                        null_keys: bool, hint: str | None = None) -> DataFrame:
    """Full-outer join of two one-row-per-key sides on plain EqualTo
    keys, so two scans bucketed on the keys join in place, with no
    exchange. EqualTo never matches a null key value, and a null-safe
    join key would no longer be the scans' partitioning. So with
    ``null_keys`` (a side may hold a null key value) the null-keyed rows
    of both sides skip the join and meet in a groupBy, which treats null
    as one value; with one row per key and side, the per-column max
    picks the present side's value, as the join would. The groupBy reads
    only rows that pass the pushed null-key filter. Shared by the cow
    merge (_zx_winners) and the changelog (read_changes).

    A partitioned table's ``key_cols`` end with the partition value
    (_PART_COL). The scans are bucketed on the keys alone, and Spark
    co-partitions a join only on all of its scans' clustering keys, so
    the partition value joins as a residual: ``<=`` and ``>=``, which
    the planner does not extract as an equi-join key."""
    keys = [c for c in key_cols if c != _PART_COL]
    if len(keys) == len(key_cols):
        joined = (left.hint(hint) if hint else left).join(
            right, on=keys, how="full_outer"
        )
    else:
        lt, rt = left.alias("__l"), right.alias("__r")
        lp, rp = F.col(f"__l.{_PART_COL}"), F.col(f"__r.{_PART_COL}")
        cond = _and_all(
            [F.col(f"__l.{c}") == F.col(f"__r.{c}") for c in keys]
            + [lp <= rp, lp >= rp]
        )
        joined = (lt.hint(hint) if hint else lt).join(rt, cond, "full_outer").select(
            *[F.coalesce(F.col(f"__l.{c}"), F.col(f"__r.{c}")).alias(c)
              for c in key_cols],
            *[F.col(f"__l.{c}") for c in left.columns if c not in key_cols],
            *[F.col(f"__r.{c}") for c in right.columns if c not in key_cols],
        )
    if not null_keys:
        return joined
    keyed = _and_all([F.col(c).isNotNull() for c in keys])
    return joined.filter(keyed).unionByName(
        left.filter(~keyed)
        .unionByName(right.filter(~keyed), allowMissingColumns=True)
        .groupBy(*key_cols)
        .agg(*[F.max(c).alias(c) for c in joined.columns if c not in key_cols])
    )


def _parquet_rows(path: str) -> int:
    """Row count from the parquet footer — metadata only, no data scan
    (the Iceberg-manifest-statistics analog for snapshot lineage)."""
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata.num_rows


def _parquet_may_hold_nulls(paths: list[str], cols: list[str]) -> bool:
    """Whether any of ``cols`` may hold a null in these files, from the
    footers' per-row-group null counts (a missing count counts as a
    possible null) — metadata only, no data scan."""
    import pyarrow.parquet as pq

    for path in paths:
        md = pq.ParquetFile(path).metadata
        for g in range(md.num_row_groups):
            for i in range(md.num_columns):
                col = md.row_group(g).column(i)
                st = col.statistics
                if col.path_in_schema in cols and (
                    st is None or not st.has_null_count or st.null_count
                ):
                    return True
    return False


def _rows_per_bucket(files_by_bucket: dict[str, list[str]]) -> dict[str, int]:
    """Footer row counts for many files, concurrently — commits should
    not serialize hundreds of (possibly remote) footer opens."""
    from concurrent.futures import ThreadPoolExecutor

    flat = [(b, f) for b, fl in files_by_bucket.items() for f in fl]
    if not flat:
        return {}
    out: dict[str, int] = {b: 0 for b in files_by_bucket}
    with ThreadPoolExecutor(max_workers=min(16, len(flat))) as ex:
        for (b, _f), n in zip(flat, ex.map(lambda t: _parquet_rows(t[1]), flat)):
            out[b] += n
    return out


# manifest fields a commit carries forward from its parent unless the
# operation changes them, each with the value an older manifest that
# lacks the field implies
_SNAP_CARRIED = {
    "schema": None,
    "key_cols": None,
    "num_buckets": None,
    "dict_cols": {},
    "tiebreak_family": "xxhash64",
    "commit_mode": "pointer",
    "files": {},
    "deltas": {},
    "tombstones": {},
    "row_counts": {},
    # the partition spec: only a partitioned table's manifests carry it
    "partition_col": None,
    "transform": None,
}


def _next_snapshot(parent: dict | None, summary: dict, **changed) -> dict:
    """THE snapshot envelope: the child of ``parent`` (version + 1)
    with every carried field that ``changed`` does not override copied
    forward, so no commit can silently drop one (an omitted "deltas"
    once lost pending MOR deltas). A field whose implied value is None
    and that the parent lacks stays absent (a flat table's partition
    spec). parent=None is the create commit: version 0, only the given
    fields."""
    unknown = set(changed) - set(_SNAP_CARRIED)
    if unknown:
        raise TypeError(f"not a carried snapshot field: {sorted(unknown)}")
    if parent is None:
        snap = {"version": 0, "parent": None}
        snap.update((k, changed[k]) for k in _SNAP_CARRIED if k in changed)
    else:
        snap = {"version": parent["version"] + 1, "parent": parent["version"]}
        for k, default in _SNAP_CARRIED.items():
            if k not in changed and k not in parent and default is None:
                continue
            v = changed[k] if k in changed else parent.get(k, default)
            snap[k] = dict(v) if isinstance(v, dict) else v
    snap["summary"] = summary
    return snap


# ---- the data-file layout -----------------------------------------
# A snapshot lists its data files in one manifest map per side, each
# {group: [paths]}: base rows ("b"), pending merge-on-read deltas ("d")
# and tombstones ("t"). A group is a bucket of a flat table ("3") or a
# (partition, bucket) pair of a partitioned one ("2024-01-01/3").
# snapshot_files is the only reader of those maps, _side_stored the only
# definition of the files' schema, and _write_buckets / _list_buckets
# the only writer and lister of the ``_b=<bucket>/`` (flat) and
# ``_p=<partition>/_b=<bucket>/`` (partitioned) directories they come
# from.
_SIDE_KEYS = {"b": "files", "d": "deltas", "t": "tombstones"}
_TRANSFORMS = ("days", "months", "identity")
# partition values name groups (and write directories): keep them safe
_SAFE_VALUE = re.compile(r"^[A-Za-z0-9._\-]{1,128}$")
# a row's partition value as a column: part of the row's identity in
# every per-key window and join of a partitioned table, and its write
# dir; derived from the payload's partition column, never stored in a
# file
_PART_COL = "_p"
_DEFAULT_PART = "__HIVE_DEFAULT_PARTITION__"  # Spark's dir for a null value


def _group_key(part: str | None, bucket: int) -> str:
    return str(bucket) if part is None else f"{part}/{bucket}"


def _split_group(key: str) -> tuple[str | None, int]:
    """(partition, bucket) of a manifest group key; partition None for
    a flat table's bucket key."""
    part, _, b = key.rpartition("/")
    return (part or None), int(b)


def _group_label(key: str):
    """A group as results and stats report it: the bucket number for a
    flat table (as before partitions existed), the key otherwise."""
    return int(key) if key.isdigit() else key


def snapshot_files(snap: dict, groups=None):
    """THE walk of a snapshot's data files: ``(side, partition, bucket,
    path)`` for every base ('b'), delta ('d') and tombstone ('t') file,
    sides in that order, limited to the group keys ``groups`` when
    given. The partition is None in a flat table. A side map that an
    older manifest lacks holds no file."""
    for side, key in _SIDE_KEYS.items():
        for g, fl in (snap.get(key) or {}).items():
            if groups is None or g in groups:
                part, b = _split_group(g)
                for f in fl:
                    yield side, part, b, f


def _snap_partitions(snap: dict) -> list[str]:
    """The partition values a snapshot holds files of, sorted."""
    return sorted({p for _s, p, _b, _f in snapshot_files(snap)} - {None})


def _side_maps(snap: dict, groups=None) -> dict[str, dict[str, list[str]]]:
    """snapshot_files regrouped into the manifest form: one
    {group: [paths]} map per side, a fresh copy the caller may edit."""
    maps: dict[str, dict[str, list[str]]] = {side: {} for side in _SIDE_KEYS}
    for side, part, b, f in snapshot_files(snap, groups):
        maps[side].setdefault(_group_key(part, b), []).append(f)
    return maps


def _list_buckets(out_dir: str, sub: str = "") -> dict[str, list[str]]:
    """{group: sorted parquet paths} of a bucketed write: the files in
    each ``<out_dir>/[_p=<partition>/]_b=<bucket>/<sub>`` dir (``sub``: a
    nested partition dir, such as the copy-on-write write's
    ``_del=false``).

    A row whose partition value is null lands in Spark's default
    partition dir, and an identity value outside the safe charset
    (Spark escapes it) would split routing between spellings. Either
    removes the whole write and raises ValueError: change events must
    carry a routable partition value."""
    import shutil

    files: dict[str, list[str]] = {}
    parts = [(None, out_dir)]
    for entry in os.listdir(out_dir):
        if entry.startswith(f"{_PART_COL}="):
            value = entry.split("=", 1)[1]
            if value == _DEFAULT_PART or not _SAFE_VALUE.match(value):
                shutil.rmtree(out_dir, ignore_errors=True)
                raise ValueError(
                    f"unsafe or null/invalid partition value {value!r}; "
                    "change events must carry a routable partition value"
                )
            parts.append((value, os.path.join(out_dir, entry)))
    for part, pdir in parts:
        for entry in os.listdir(pdir):
            bdir = os.path.join(pdir, entry, sub)
            if entry.startswith(f"{_BUCKET_COL}=") and os.path.isdir(bdir):
                files[_group_key(part, int(entry.split("=", 1)[1]))] = sorted(
                    os.path.join(bdir, f) for f in os.listdir(bdir)
                    if f.endswith(".parquet")
                )
    return files


@dataclass
class MergeResult:
    """Counts + lineage for one MERGE (north_rule: per-partition
    lineage and row-count metrics). ``empty``: the batch held no row,
    so the merge committed nothing and ``version`` is the unchanged
    current one."""

    version: int
    rows_inserted: int = 0
    rows_updated: int = 0
    rows_deleted: int = 0
    rows_noop: int = 0
    rows_dropped: int = 0  # delete won but no base row existed
    rows_delta: int = 0  # merge-on-read: deduped events appended
    touched_buckets: list[int] = field(default_factory=list)
    partition_counts: dict[int, int] = field(default_factory=dict)
    empty: bool = False

    def as_dict(self) -> dict:
        return {
            "version": self.version,
            "rows_inserted": self.rows_inserted,
            "rows_updated": self.rows_updated,
            "rows_deleted": self.rows_deleted,
            "rows_noop": self.rows_noop,
            "rows_dropped": self.rows_dropped,
            "rows_delta": self.rows_delta,
            "touched_buckets": self.touched_buckets,
            "partition_counts": {str(k): v for k, v in self.partition_counts.items()},
        }


class LakeTable:
    """A bucketed, snapshot-versioned parquet table supporting MERGE:
    one ``snap-`` ManifestChain in ``<path>/_meta``, data files under
    ``<path>/data``. Each manifest records its table's commit mode, and
    a ``rename-free`` one is published without a pointer."""

    def __init__(self, path: str):
        self.path = path
        self.meta_dir = os.path.join(path, "_meta")
        self._chain = ManifestChain(self.meta_dir, "snap-")
        self.data_dir = os.path.join(path, "data")

    def exists(self) -> bool:
        return self._chain.exists()

    def current_version(self) -> int:
        """Pointer read, or (rename-free tables / object stores without
        atomic rename) the highest published snapshot manifest — valid
        because versioned_commit publishes manifests complete."""
        v = self._chain.current()
        if v is None:
            raise FileNotFoundError(f"no table at {self.path}")
        return v

    def snapshot(self, version: int | None = None) -> dict:
        return self._chain.read(
            self.current_version() if version is None else version
        )

    def history(self) -> list[dict]:
        return self._chain.history()

    def version_at(self, timestamp: float) -> int:
        return self._chain.version_at(timestamp)

    def schema(self) -> T.StructType:
        """User-visible schema (excludes the hidden LSN guard column)."""
        return T.StructType.fromJson(json.loads(self.snapshot()["schema"]))

    def _commit(self, snap: dict) -> None:
        """Atomic snapshot commit with optimistic concurrency: the
        chain's ``versioned_commit`` publish of snap-N.json."""
        self._chain.commit(
            snap, rename_free=snap.get("commit_mode") == "rename-free"
        )

    def metadata_df(self, spark: SparkSession, kind: str) -> DataFrame:
        """Queryable metadata frames (Iceberg's ``t.files`` /
        ``t.history`` / ``t.partitions`` analog): kind is "files",
        "history" or "partitions". Built from manifests + os.stat only
        — no data-file I/O, no Spark jobs beyond createDataFrame."""
        from .metadata import build_metadata_df

        return build_metadata_df(spark, self, kind)

    # ----------------------------------------------------------- read
    def _resolved_view(
        self,
        spark: SparkSession,
        version: int,
        groups=None,
    ) -> DataFrame:
        """Shared MOR read path for one PINNED snapshot version (all
        groups, or the group keys ``groups``): base and tombstones resolved
        LWW against the pending delta files. Pinning the version ONCE
        keeps base/delta/tombstone file lists mutually consistent under
        concurrent commits (mixing CURRENT re-reads could resurrect a
        deleted key or hit vacuumed paths).

        Without pending deltas in the chosen buckets it is a plain base
        scan: tombstones cannot change the view (their keys are absent
        from base by construction). Otherwise the chosen buckets' files
        register as one bucketed table (_zx_base_tomb_side), whose
        per-key winner comes from a dedup window that the scan's
        HashPartitioning already satisfies: no Exchange. The frame is
        lazy, so the registration outlives this call: one
        ``_bucketed/read-v<version>-<digest>`` dir per version and bucket
        choice, reused by later reads (_kept_registration)."""
        snap = self.snapshot(version)
        picked = _side_maps(snap, groups)
        if not picked["d"]:
            return self._read_internal(
                spark, snap, [f for fl in picked["b"].values() for f in fl]
            )
        schema = T.StructType.fromJson(json.loads(snap["schema"]))
        key_cols = snap["key_cols"]
        reg_root, reg = self._kept_registration(
            f"read-v{snap['version']:08d}", [picked],
            lambda tmp: self._link_base_tomb(picked, tmp),
        )
        side = self._zx_base_tomb_side(
            spark, snap, reg_root, f"{reg}_bt",
            [f for f in schema.fields if f.name not in key_cols],
        )
        return self._live_rows(side, key_cols, schema)

    @staticmethod
    def _live_rows(side: DataFrame, key_cols: list[str],
                   schema: T.StructType) -> DataFrame:
        """The readable rows of a per-key winner side (_side_winners):
        drop winners that are deletes or tombstones, and project the
        payload in schema order."""
        return side.filter(
            ~F.col("__cand_b.op").isin(_OP_DELETE, _OP_TOMBSTONE)
        ).select(*[
            F.col(f.name) if f.name in key_cols
            else F.col(f"__cand_b.p_{f.name}").alias(f.name)
            for f in schema.fields
        ])

    def _kept_registration(self, label: str, maps: list[dict], build) -> tuple[str, str]:
        """Registration dir and catalog-name prefix for a LAZY frame,
        whose registration must outlive the call that returns it (unlike
        _cow_commit's, dropped when its merge ends).

        The dir is ``_bucketed/<label>-<digest>``, where the digest
        covers the file lists ``maps`` (_side_maps): snapshots are immutable, so
        equal file lists mean equal content, and a WAP stage's version N
        (which shares the table dir and the version numbers) never
        reuses main's version N registration. ``build(tmp)`` links the
        files into a private tmp dir that is renamed into place, so the
        dir appears complete or not at all (concurrent readers race
        benignly: a rival that renamed first wins). Reuse refreshes the
        dir's mtime, and vacuum's ``_bucketed/`` grace sweep collects
        dirs no read has touched within its grace window. Catalog names
        derive from the dir (_reg_prefix); callers CREATE them IF NOT
        EXISTS, so a re-read adds no session catalog entry, and vacuum
        drops them with the dir."""
        import hashlib
        import shutil

        digest = hashlib.md5(json.dumps(
            [[m["b"], m["t"], m["d"]] for m in maps],
            sort_keys=True,
        ).encode()).hexdigest()[:12]
        reg_root = os.path.join(self.path, "_bucketed", f"{label}-{digest}")
        if not os.path.isdir(reg_root):
            tmp = reg_root + f".tmp-{uuid.uuid4().hex[:8]}"
            os.makedirs(tmp)
            build(tmp)
            try:
                os.rename(tmp, reg_root)
            except OSError:
                shutil.rmtree(tmp, ignore_errors=True)  # a rival built it
        else:
            try:
                os.utime(reg_root)  # keep the grace sweep off a live reg
            except OSError:
                pass
        return reg_root, self._reg_prefix(reg_root)

    @staticmethod
    def _reg_prefix(reg_root: str) -> str:
        """Catalog-name prefix of a kept registration dir: its tables are
        ``<prefix>_<suffix>``."""
        import hashlib

        return "zxr_" + hashlib.md5(os.path.abspath(reg_root).encode()).hexdigest()[:16]

    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        columns: list[str] | None = None,
        as_of: float | None = None,
        between: tuple[str, str] | None = None,
        values: list[str] | None = None,
    ) -> DataFrame:
        """Read the table at a snapshot (time travel). Missing columns
        in old files are filled with nulls (additive schema evolution —
        mirrors the reference's extra='allow' carry-through,
        userCode/groundwater/wells.py:30).

        If the snapshot carries merge-on-read deltas, they are resolved
        here (base LWW-merged with delta events, delete tombstones
        applied) — the Hudi/Iceberg-v2 MOR read path, with no Exchange
        (_resolved_view).

        columns: validated projection sugar. NOTE: this does NOT beat a
        plain `.select()` above read() — verified on Spark 4.1.2 that
        Catalyst pushes the projection through the dedup window and the
        winner struct identically (the rank depends only on keys, _lsn,
        the tie-break and the side), so both forms prune `text`
        from the scan. Pinned by
        tests/test_round2_fixes.py::test_read_column_pruning_through_mor_resolve,
        which exists to catch a Catalyst regression, not to justify
        manual plumbing.

        as_of: epoch-seconds timestamp time travel (mutually exclusive
        with version) — resolves via version_at().

        between=(lo, hi) / values=[...] (partitioned tables): read only
        those partition values, pruned from the MANIFEST — a string
        compare on the group keys, no file listing and no data I/O for
        the partitions left out; a bound may be None."""
        if as_of is not None:
            if version is not None:
                raise ValueError("pass either version or as_of, not both")
            version = self.version_at(as_of)
        v = self.current_version() if version is None else version
        snap = self.snapshot(v)
        if columns is not None:
            schema = T.StructType.fromJson(json.loads(snap["schema"]))
            unknown = set(columns) - {f.name for f in schema.fields}
            if unknown:
                raise ValueError(f"unknown columns: {sorted(unknown)}")
        groups = None
        if between is not None or values is not None:
            if not snap.get("partition_col"):
                raise ValueError("between/values select partitions of a partitioned table")
            lo, hi = between or (None, None)
            groups = {
                _group_key(p, b) for _s, p, b, _f in snapshot_files(snap)
                if (values is None or p in values)
                and (lo is None or p >= lo) and (hi is None or p <= hi)
            }
        out = self._resolved_view(spark, v, groups)
        return out.select(*columns) if columns is not None else out

    def lookup(self, spark: SparkSession, **key_values) -> DataFrame:
        """Point read by FULL primary key with bucket pruning: the key's
        bucket is computed with the table's own hash, and only that
        bucket's base/delta/tombstone files are scanned — O(1/num_buckets)
        of the table per lookup (the serving-layer read; Iceberg analog:
        bucket-transform partition pruning on an equality predicate).

        All key columns are required — the bucket hash covers the full
        key, so a partial key cannot prune (use read().filter() there).
        Null key values are matched null-safely (the layout hashes
        nulls consistently, and merge treats null-keyed rows as ordinary
        keys). In a partitioned table the bucket does not depend on the
        partition, so the key's bucket in every partition is scanned and
        each partition's live row comes back."""
        snap = self.snapshot()
        key_cols = snap["key_cols"]
        if set(key_values) != set(key_cols):
            raise ValueError(f"lookup requires exactly the key columns {key_cols}")
        schema = T.StructType.fromJson(json.loads(snap["schema"]))
        # the bucket function is Spark's hash — computing it anywhere
        # else would risk divergence from the layout. Over a one-row
        # VALUES relation, literals cast to the stored key types fold in
        # Spark's optimizer into a local relation: no job
        probe = spark.sql("VALUES (1)").select(*[
            F.lit(key_values[f.name]).cast(f.dataType).alias(f.name)
            for f in schema.fields if f.name in key_cols
        ])
        b = probe.select(self._bucket_expr(snap).alias("b")).collect()[0]["b"]
        scans: dict[str, list[str]] = {"b": [], "t": [], "d": []}
        for side, _p, fb, f in snapshot_files(snap):
            if fb == b:
                scans[side].append(f)
        # the predicate covers the KEY COLUMNS ONLY, so filtering below
        # the dedup window selects whole key groups and changes no winner
        pred = _and_all(
            F.col(c).eqNullSafe(F.lit(key_values[c])) for c in key_cols
        )
        if not scans["d"]:
            return self._read_internal(spark, snap, scans["b"]).filter(pred)
        # no registration: the key's files are few, so one task runs the
        # shared dedup window, whose clustering the coalesce(1)'s
        # SinglePartition satisfies — no Exchange
        union = reduce(DataFrame.unionByName, [
            self._with_partition(self._read_stored(spark, snap, fl), snap)
            .filter(pred).withColumn("side", F.lit(side))
            for side, fl in scans.items() if fl
        ]).coalesce(1)
        return self._live_rows(
            self._side_winners(
                union, self._ident(snap),
                [f for f in schema.fields if f.name not in key_cols],
            ),
            key_cols, schema,
        )

    def read_changes(
        self,
        spark: SparkSession,
        from_version: int,
        to_version: int | None = None,
        include_preimages: bool = False,
    ) -> DataFrame:
        """Incremental changelog between two snapshots — the downstream
        half of a CDC engine (Delta Change Data Feed / Iceberg
        changelog-scan analog): a consumer that processed the table at
        ``from_version`` calls this to get exactly the NET row-level
        changes it must apply to reach ``to_version``.

        Output: the to_version payload columns plus
        ``_change_type`` ('insert' | 'update' | 'delete') and
        ``_commit_lsn`` (the winning event's LSN; deletes carry the
        delete event's LSN). Updates and inserts carry the post-image;
        deletes carry the from_version pre-image.

        include_preimages=True additionally emits, for every 'update'
        row, a companion ``_change_type='update_preimage'`` row with
        the from_version payload and the SAME ``_commit_lsn`` as its
        post-image (the Delta CDF update_preimage/update_postimage
        convention) — what a self-maintaining downstream aggregate
        needs to SUBTRACT the old contribution before adding the new
        (lake/incremental.py). Emitted in the same single pass over
        the full-outer join (an in-row 1-or-2 element array explode),
        never a second join.

        Cost scales with the CHANGE, not the table: from_version's
        high-watermark comes from parquet footer stats (no job), and
        only buckets whose per-bucket FILE LISTS differ between the two
        snapshots participate (metadata-only diff; unchanged buckets'
        refs carry forward verbatim, so an equal list proves no change
        — and it still catches rows that vanished via tombstone
        expiry, which footer-LSN pruning cannot see). The from-side
        read prunes to the same buckets; the full-outer join runs over
        touched buckets only.

        And it moves no row across the network: each version's touched
        base, tombstone and pending-delta files register as one catalog
        bucketed table (_zx_base_tomb_side), whose scan reports
        HashPartitioning(keys, num_buckets) and whose per-key winner
        comes from a dedup window that partitioning already satisfies.
        The two versions then join full-outer on plain EqualTo keys,
        which both sides' partitioning satisfies too: no Exchange in the
        plan (pinned by tests/test_plans.py). It stays a sort-merge join
        (no SHUFFLE_HASH hint): both sides are version-sized, and a
        sort-merge join spills where a hash build would run out of
        memory.

        Null key values match null-safely, as in merge(). EqualTo never
        matches them, so when the touched files' footers show a possible
        null key, the null-keyed rows of both versions resolve in a
        groupBy beside the join (_outer_join_on_keys). Only those rows
        cross an exchange; the footer check itself runs no job.

        The returned frame is lazy, so its registration outlives this
        call: one ``_bucketed/chg-v<from>-v<to>-<digest>`` dir per hop,
        reused by later reads of the same hop, with catalog entries
        created IF NOT EXISTS (_kept_registration). vacuum's grace sweep
        removes it once no read has touched it within the grace window.

        Contract: LSNs applied between the versions must exceed
        from_version's high-watermark (the CdcRunner window discipline;
        arbitrary hand merges of past LSN ranges can change equal-LSN
        tie winners invisibly to footer stats). Rebucketing between the
        versions is supported — the from-side just reads unpruned
        (bucket ids are not comparable across layouts), registered under
        its own bucket count, and the planner shuffles to match the
        layouts. from_version 0 has no from-side and no join."""
        from . import bucketed as B

        v2 = self.current_version() if to_version is None else to_version
        v1 = from_version
        if v1 > v2:
            raise ValueError(f"from_version {v1} > to_version {v2}")
        snap2 = self.snapshot(v2)
        if v1 == 0:
            # the empty origin is SYNTHETIC, never read from disk: a
            # vacuumed table may have expired its v0 manifest, and a
            # from-zero changelog (a fresh follower's bootstrap full
            # sync) must still work
            snap1 = {
                k: snap2[k]
                for k in ("num_buckets", "schema", "key_cols",
                          "partition_col", "transform")
                if k in snap2
            }
        else:
            try:
                snap1 = self.snapshot(v1)
            except FileNotFoundError:
                raise ValueError(
                    f"from_version {v1} has been expired by vacuum(); an "
                    "incremental hop from it is no longer computable. "
                    "Re-sync the consumer from scratch: read_changes(0) "
                    "against an EMPTY downstream state (a diverged replica "
                    "must be recreated first — it may hold rows whose "
                    "deletes are gone). Keep vacuum's retention above the "
                    "follower's polling interval to avoid this."
                ) from None
        schema2 = T.StructType.fromJson(json.loads(snap2["schema"]))
        out_fields = T.StructType(
            list(schema2.fields)
            + [
                T.StructField("_change_type", T.StringType(), False),
                T.StructField("_commit_lsn", T.LongType(), True),
            ]
        )
        empty = spark.createDataFrame([], out_fields)
        if v1 == v2:
            return empty

        v1_files = [f for *_g, f in snapshot_files(snap1)]
        wm1 = _files_max_lsn(v1_files)
        if wm1 is None and v1_files:
            # stats-less files (foreign writer): one column-pruned job
            wm1 = (
                spark.read.parquet(*v1_files)
                .agg(F.max(LSN_COL).alias("m")).collect()[0]["m"]
            )
        if wm1 is None:
            wm1 = -1  # empty from-version: everything in v2 is new

        # touched groups by FILE-LIST diff, not LSN footers: snapshots
        # carry unchanged groups' file refs forward verbatim, so an
        # identical per-group file list proves the group cannot differ
        # between the versions — while a group whose rows VANISHED
        # (tombstone expiry, a dropped partition) leaves no fresh-LSN
        # trace for footer-based pruning to see, but always has a
        # different file list. Maintenance churn (compact/fold rewrites)
        # marks groups touched too; the join then correctly yields no
        # rows for them.
        m1, m2 = _side_maps(snap1), _side_maps(snap2)
        if snap1["num_buckets"] == snap2["num_buckets"]:
            touched = {
                g for m in (m1, m2) for side in m.values() for g in side
                if any(m1[s].get(g) != m2[s].get(g) for s in _SIDE_KEYS)
            }
            # the from-side reads the same groups
            from_groups = touched
        else:
            # rebucketed: bucket ids are not comparable across layouts,
            # so each side reads all of its own groups
            touched = from_groups = None
        if touched is not None and not touched:
            return empty
        key_cols: list[str] = snap2["key_cols"]
        nonkey = [f for f in schema2.fields if f.name not in key_cols]

        def build(tmp: str) -> None:
            self._link_base_tomb(_side_maps(snap2, touched), os.path.join(tmp, "to"))
            self._link_base_tomb(
                _side_maps(snap1, from_groups), os.path.join(tmp, "from")
            )

        reg_root, reg = self._kept_registration(
            f"chg-v{v1}-v{v2}", [m1, m2], build
        )
        # each version's per-key winner (base, tombstones and pending
        # deltas) from its own bucketed scan: one candidate struct per key.
        # The dedup window sorts by the keys first (radix=False), so the
        # sort-merge join below finds each side already in key order and
        # a side with pending deltas sorts once, not twice
        sides = {}
        for side, snap in (("to", snap2), ("from", snap1)):
            bt_dir = os.path.join(reg_root, side)
            if os.path.isdir(bt_dir):
                sides[side] = self._zx_base_tomb_side(
                    spark, snap, bt_dir, f"{reg}_{side}", nonkey, radix=False,
                ).select(*self._ident(snap), F.col("__cand_b").alias(f"__{side}"))
        if "from" in sides:
            sides["from"] = sides["from"].filter(
                ~F.col("__from.op").isin(_OP_DELETE, _OP_TOMBSTONE)
            )
        if not sides:
            return empty
        if len(sides) == 1:
            # empty origin (or one side without files): nothing to join
            (side, j), = sides.items()
            other = "__from" if side == "to" else "__to"
            j = j.withColumn(other, F.lit(None).cast(j.schema[f"__{side}"].dataType))
        else:
            linked = B.collect_wal_files(reg_root).values()
            j = _outer_join_on_keys(
                sides["to"], sides["from"], self._ident(snap2),
                _parquet_may_hold_nulls([f for fl in linked for f in fl], key_cols),
            )

        cur, prev = F.col("__to"), F.col("__from")
        lsn = cur["l"]
        cur_missing = cur.isNull()
        prev_present = prev.isNotNull()
        fresh = lsn > F.lit(wm1)
        live = ~F.coalesce(cur["op"].isin(_OP_DELETE, _OP_TOMBSTONE), F.lit(True))
        change = (
            F.when(live & fresh & ~prev_present, F.lit("insert"))
            .when(live & fresh & prev_present, F.lit("update"))
            # tombstone expired between versions: the delete is real
            # even though its LSN is gone from v2's files
            .when((cur_missing | ~live) & prev_present
                  & (cur_missing | fresh), F.lit("delete"))
        )
        classified = j.withColumn("_change_type", change).filter(
            F.col("_change_type").isNotNull()
        )
        keys_out = [F.col(c) for c in key_cols]
        post_payload = [
            F.when(F.col("_change_type") == "delete", prev[f"p_{f.name}"])
            .otherwise(cur[f"p_{f.name}"])
            .alias(f.name)
            for f in nonkey
        ]
        if not include_preimages:
            return classified.select(
                *keys_out,
                *post_payload,
                F.col("_change_type"),
                lsn.alias("_commit_lsn"),
            )
        # pre-image companion rows: same keys + same commit LSN as the
        # post-image, payload from the from_version side. Built as a
        # 1-or-2 element struct array exploded in the SAME pass — the
        # full-outer join is never evaluated twice.
        post_struct = F.struct(
            *keys_out,
            *post_payload,
            F.col("_change_type").alias("_change_type"),
            lsn.alias("_commit_lsn"),
        )
        pre_struct = F.struct(
            *keys_out,
            *[prev[f"p_{f.name}"].alias(f.name) for f in nonkey],
            F.lit("update_preimage").alias("_change_type"),
            lsn.alias("_commit_lsn"),
        )
        rows = F.when(
            F.col("_change_type") == "update",
            F.array(post_struct, pre_struct),
        ).otherwise(F.array(post_struct))
        return classified.select(F.explode(rows).alias("__r")).select("__r.*")

    @staticmethod
    def _update_tiebreak(
        df_cols: list[str], evolved: T.StructType, op_col: str,
        family: str = "xxhash64",
    ):
        """Equal-LSN total-order tie-break of a raw change batch's
        rows: one value over (evolved payload values in schema order, a
        column the batch lacks as a typed null; then the normalized op
        string) — the md5 family follows the exact convention of
        cdc.apply.oracle_fold/tiebreak_py. This is the value every
        merge persists for a batch row; the batch kernel (_resolve_batch)
        evaluates the same values after its exchange, over the decoded
        payload and op code that rode it (tests/test_batch_kernel.py
        holds the two equal)."""
        cols = [
            F.col(f.name).cast(f.dataType)
            if f.name in df_cols
            else F.lit(None).cast(f.dataType)
            for f in evolved.fields
        ]
        cols.append(_op_decode(_op_code(F.col(op_col))))
        return tiebreak_cols(cols, family=family)

    def _resolve_batch(
        self, upd: DataFrame, snap: dict, evolved: T.StructType,
        op_col: str, lsn_col: str, n_buckets: int | None = None,
    ) -> DataFrame:
        """THE batch resolve: per-key LWW dedup of a change batch in the
        _lww_order total order, with no base side. The MOR append and
        both copy-on-write merges (_batch_cand) dedup their batch here.
        Returns the evolved payload (dict columns decoded) plus __lsn,
        the op code __op and the tie-break __tb, one row per key.

        The batch is tagged first: the _tag_select payload, __lsn and
        the 1-byte op code. With ``n_buckets`` the tagged batch
        repartitions on the keys into that many buckets (merge() and the
        MOR append: the apply's one exchange), and the table's declared
        dict columns ride it as codes, so strings never do; without, it
        must already be clustered by key (merge_prebucketed's bucketed
        WAL scan reports HashPartitioning(keys, n)), and the window adds
        no exchange.

        Everything else the rank needs is a function of the tagged
        columns, so it is computed above the exchange: the decoded dict
        columns, the tie-break (the value of _update_tiebreak, over the
        decoded payload and op), a partitioned table's partition value
        (_p, part of the row's identity: _ident) and the window's radix
        prefix. Random 64-bit hashes do not compress: shipping the three
        would add half again to the exchange's bytes. A rank filter only: an
        over-partition metrics column would block Spark's
        WindowGroupLimit rank pushdown. Spark puts a Partial limit below
        an exchange only when the window's own distribution requirement
        adds that exchange (cdc.apply.lww_dedup); above this explicit
        repartition it plans the Final limit alone, wherever the hashes
        are computed (tests/test_plans.py pins it). The cow merges
        classify insert-vs-update in their join against the bucketed
        base (_zx_winners)."""
        key_cols = snap["key_cols"]
        dicts = (snap.get("dict_cols") or {}) if n_buckets is not None else {}
        tagged = upd.select(
            *self._tag_select(upd.columns, evolved, dicts),
            F.col(lsn_col).cast("long").alias("__lsn"),
            _op_code(F.col(op_col)).alias("__op"),
        )
        if n_buckets is not None:
            tagged = tagged.repartition(n_buckets, *key_cols)
        batch = self._with_partition(
            tagged.select(*self._payload_out(evolved, dicts), "__lsn", "__op"), snap
        )
        tb = tiebreak_cols(
            [F.col(f.name) for f in evolved.fields] + [_op_decode(F.col("__op"))],
            family=snap.get("tiebreak_family", "xxhash64"),
        )
        return _lww_top1(batch.withColumn("__tb", tb), self._ident(snap), "__lsn", "__tb")

    def _with_partition(self, df: DataFrame, snap: dict) -> DataFrame:
        """``df`` (payload columns) plus a partitioned table's partition
        value _p, the last column of _ident."""
        if not snap.get("partition_col"):
            return df
        return df.withColumn(_PART_COL, self._partition_expr(snap))

    def _read_internal(
        self, spark: SparkSession, snap: dict, files: list[str]
    ) -> DataFrame:
        """The payload rows of the pinned ``snap``'s base ``files``: the
        read of a version's (or a key's) buckets without pending deltas,
        whose tombstones cannot change the view."""
        stored = self._side_stored(snap, "b")
        # mergeSchema not needed: we pass the (superset) snapshot
        # schema explicitly; parquet fills absent columns with null.
        rows = (
            spark.read.schema(stored).parquet(*files) if files
            else spark.createDataFrame([], stored)
        )
        return rows.drop(LSN_COL, _TB_COL, *_LEGACY_TB)

    # ---------------------------------------------------------- create
    @staticmethod
    def create(
        path: str,
        schema: T.StructType,
        key_cols: list[str],
        num_buckets: int = 16,
        dict_cols: dict[str, list[str]] | None = None,
        tiebreak_family: str = "xxhash64",
        commit_mode: str = "pointer",
        partition_col: str | None = None,
        transform: str = "days",
    ) -> "LakeTable":
        """dict_cols: {string_column: [expected values...]} — declared
        low-cardinality columns ride the merge shuffles as 2-byte
        dictionary codes instead of strings (values outside the declared
        set survive via a lossless fallback). A ~10-25% shuffle-byte cut
        on transcript-shaped payloads (see DESIGN.md section 7).

        commit_mode: "pointer" (default, POSIX: atomic-rename CURRENT
        pointer) or "rename-free" (object-store-safe: commits are
        manifest publishes only — fail-if-exists link, no rename
        anywhere; CURRENT is derived as the highest published
        manifest). Recorded in every snapshot and carried forward.

        partition_col: time-partition the table by ``transform``
        (``days`` or ``months`` of a timestamp, date or epoch-seconds
        long column, or the ``identity`` of a string column): the
        Iceberg ``PARTITIONED BY (days(ts), bucket(N, key))`` shape.
        Each (partition, bucket) pair is a group of the manifest, so a
        merge rewrites only the groups its batch touches (cost follows
        the active time range, not table age), reads prune partitions
        from the manifest, and ``drop_partitions`` is a metadata-only
        retention commit (DESIGN.md §17). The partition value is part of
        the row's identity (_ident)."""
        if commit_mode not in ("pointer", "rename-free"):
            raise ValueError(f"unknown commit_mode {commit_mode!r}")
        t = LakeTable(path)
        if t.exists():
            raise ValueError(f"table already exists at {path}")
        by_name = {f.name: f for f in schema.fields}
        spec = {}
        if partition_col is not None:
            if transform not in _TRANSFORMS:
                raise ValueError(f"unknown transform {transform!r}; one of {_TRANSFORMS}")
            if partition_col not in by_name:
                raise ValueError(f"partition_col {partition_col!r} not in schema")
            ptype = by_name[partition_col].dataType
            if transform != "identity" and not isinstance(
                ptype, (T.TimestampType, T.DateType, T.LongType)
            ):
                raise ValueError(
                    f"{transform} transform needs a timestamp/date column, got {ptype}"
                )
            if transform == "identity" and not isinstance(ptype, T.StringType):
                raise ValueError("identity transform needs a string column")
            if _PART_COL in by_name:
                raise ValueError(f"column {_PART_COL!r} is reserved in a partitioned table")
            spec = {"partition_col": partition_col, "transform": transform}
        for c, vals in (dict_cols or {}).items():
            if c in key_cols:
                raise ValueError(f"dict_cols cannot include key column {c}")
            if c not in by_name or not isinstance(by_name[c].dataType, T.StringType):
                raise ValueError(f"dict_cols column {c} must be a string column")
            if not vals or not all(isinstance(v, str) for v in vals):
                raise ValueError(f"dict_cols[{c}] must be a non-empty list of strings")
        os.makedirs(t.data_dir, exist_ok=True)
        t._commit(
            _next_snapshot(
                None,
                {"operation": "create"},
                schema=json.dumps(schema.jsonValue()),
                key_cols=key_cols,
                num_buckets=num_buckets,
                dict_cols=dict_cols or {},
                tiebreak_family=tiebreak_family,
                commit_mode=commit_mode,
                files={},
                **spec,
            )
        )
        return t

    # ------------------------------------------------- shuffle encode
    def _tag_select(self, df_cols: list[str], evolved: T.StructType, dicts: dict):
        """Projection list for a merge batch: evolved payload columns
        (missing -> typed null), with declared dict columns split into
        (code, fallback) pairs so strings don't ride the exchange."""
        out = []
        for f in evolved.fields:
            src = (
                F.col(f.name).cast(f.dataType)
                if f.name in df_cols
                else F.lit(None).cast(f.dataType)
            )
            if f.name in dicts:
                code, fb = _dict_encode(src, dicts[f.name])
                out += [code.alias(f"__c_{f.name}"), fb.alias(f"__f_{f.name}")]
            else:
                out.append(src.alias(f.name))
        return out

    def _batch_cand(self, upd: DataFrame, snap: dict, evolved: T.StructType,
                    op_col: str, lsn_col: str, nonkey: list,
                    n_buckets: int | None = None) -> DataFrame:
        """The copy-on-write merges' batch side, as the __cand_u
        candidate struct: resolve (_resolve_batch), then _zx_cand.
        merge() passes ``n_buckets``, the batch's one exchange;
        merge_prebucketed() passes none, since its bucketed WAL scan is
        already clustered by key."""
        batch = self._resolve_batch(upd, snap, evolved, op_col, lsn_col, n_buckets)
        return self._zx_cand(
            batch, 1, F.col("__lsn"), F.col("__op"), F.col("__tb"),
            self._ident(snap), nonkey,
        ).withColumnRenamed("__cand", "__cand_u")

    @staticmethod
    def _payload_out(evolved: T.StructType, dicts: dict):
        """Inverse of _tag_select: decode dict columns back to their
        public string form after the winners are chosen."""
        return [
            _dict_decode(
                F.col(f"__c_{f.name}"), F.col(f"__f_{f.name}"), dicts[f.name]
            ).alias(f.name)
            if f.name in dicts
            else F.col(f.name)
            for f in evolved.fields
        ]

    # ---------------------------------------------------------- write
    def _bucket_expr(self, snap: dict | None = None):
        """Bucket id = pmod(hash(key_cols), n) with Spark's own Murmur3
        F.hash — DELIBERATELY identical to Spark's internal
        HashPartitioning. Consequences: after ``repartition(n, *keys)``
        every task holds exactly one bucket, and the table's own files,
        registered as a catalog bucketed table, report that same
        partitioning. So the merge's one exchange moves the batch alone
        and joins the base in place, and the bucketed file layout needs
        no second exchange (the moral equivalent of Iceberg
        storage-partitioned joins and writes).
        Pass the caller's pinned snapshot to avoid a CURRENT re-read
        (the function's inputs are immutable post-create anyway)."""
        if snap is None:
            snap = self.snapshot()
        keys = [F.col(c) for c in snap["key_cols"]]
        return F.pmod(F.hash(*keys), F.lit(snap["num_buckets"])).cast("int")

    # ------------------------------------------------------ partitions
    @staticmethod
    def _ident(snap: dict) -> list[str]:
        """The columns that identify a row: the key columns, plus the
        partition value in a partitioned table (Hudi's NON-GLOBAL index:
        the same key in two partitions is two rows, and delete events
        must carry the partition column). Every per-key window and join
        groups by these."""
        return snap["key_cols"] + ([_PART_COL] if snap.get("partition_col") else [])

    @staticmethod
    def _partition_expr(snap: dict):
        """A row's partition value, from its partition column: the UTC
        day ``yyyy-MM-dd`` (``days``) or month ``yyyy-MM`` (``months``)
        of a timestamp, a date or epoch seconds (a long), or the string
        itself (``identity``). All values sort lexicographically in time
        order, so range pruning is a string comparison on the manifest's
        group keys.

        Routing is UTC by definition and computed in integer arithmetic
        (unix_micros floor-divided into days), so it does not depend on
        the session time zone: one event lands in one partition whatever
        zone the writing session runs in. Tables written before this
        rule under a non-UTC session zone keep those rows where they
        were routed; convert_partition_tree refuses a tree whose files
        hold rows outside their partition's UTC range."""
        c, tr = snap["partition_col"], snap["transform"]
        typ = next(
            f.dataType
            for f in T.StructType.fromJson(json.loads(snap["schema"])).fields
            if f.name == c
        )
        col = F.col(c).cast(typ)
        if tr == "identity":
            return col.cast("string")
        if isinstance(typ, T.TimestampType):
            days = F.floor(F.unix_micros(col) / 86_400_000_000)
        elif isinstance(typ, T.DateType):
            days = F.unix_date(col)
        else:  # epoch seconds
            days = F.floor(col / 86_400)
        day = F.date_from_unix_date(days.cast("int")).cast("string")
        return day if tr == "days" else F.substring(day, 1, 7)

    def _group_cols(self, snap: dict) -> dict:
        """A row's manifest group as write-dir columns: {_b: bucket},
        led by _p: partition value in a partitioned table."""
        cols = {_BUCKET_COL: self._bucket_expr(snap)}
        if snap.get("partition_col"):
            cols = {_PART_COL: self._partition_expr(snap), **cols}
        return cols

    def partitions(self, version: int | None = None) -> list[str]:
        """The live partition values of a snapshot, from its manifest."""
        return _snap_partitions(self.snapshot(version))

    def drop_partitions(
        self, before: str | None = None, values: list[str] | None = None
    ) -> list[str]:
        """Metadata-only retention: one commit that removes every group
        of the chosen partition values from the manifest (``before`` =
        all values strictly below, lexicographic = chronological for
        days/months). No data rewrite and no per-row tombstone: time
        travel to earlier versions still reads the rows, read_changes
        across the drop emits them as deletes, and vacuum() reaps the
        files once no kept snapshot references them (the Iceberg
        ``DROP PARTITION`` + ``expire_snapshots`` split). A merge into a
        dropped value starts it afresh. Returns the dropped values; no
        match commits nothing. A commit race re-reads and retries."""
        if (before is None) == (values is None):
            raise ValueError("pass exactly one of before= / values=")

        def attempt() -> list[str]:
            snap = self.snapshot()
            dropped = [
                p for p in _snap_partitions(snap)
                if (p < before if before is not None else p in values)
            ]
            if dropped:
                gone = set(dropped)
                maps = {side: {g: fl for g, fl in m.items()
                               if _split_group(g)[0] not in gone}
                        for side, m in _side_maps(snap).items()}
                self._commit(_next_snapshot(
                    snap,
                    {"operation": "drop_partitions", "dropped": dropped},
                    files=maps["b"], deltas=maps["d"], tombstones=maps["t"],
                    row_counts={g: n for g, n in (snap.get("row_counts") or {}).items()
                                if _split_group(g)[0] not in gone},
                ))
            return dropped

        return retry_on_conflict(attempt)

    def _write_buckets(
        self,
        df: DataFrame,
        snap: dict,
        prefix: str = "w",
        pre_partitioned: bool = False,
        sort_within: bool = False,
        sort_expr=None,
        row_group_bytes: int | None = None,
    ) -> dict[str, list[str]]:
        """Write df (stored schema + the _group_cols) into per-group
        parquet files under a fresh ``data/<prefix>-<hex>/`` dir, laid
        out for ``snap`` (its key columns and bucket count); returns
        {group: [paths]}.

        pre_partitioned=True: df is already hash-partitioned on the key
        columns into num_buckets partitions (each task = one bucket) —
        write directly, no extra shuffle. Otherwise repartition first.
        Skew note: buckets hash the FULL key (conv_id AND turn_idx), so
        a hot conversation spreads across buckets by construction —
        this replaces explicit salting.

        sort_within=True clusters each bucket's rows by key before the
        write, so parquet row-group min/max statistics carry TIGHT,
        non-overlapping key ranges — a point lookup's pushed equality
        predicate then skips whole row groups inside the bucket file
        (Iceberg's sort-order-on-rewrite analog). Used by compact():
        maintenance pays the local sort once so the serving reads skip
        forever after.

        A write of no row leaves no dir behind and returns {}."""
        import shutil

        key_cols = snap["key_cols"]
        out_dir = os.path.join(self.data_dir, f"{prefix}-{uuid.uuid4().hex}")
        if not pre_partitioned:
            df = df.repartition(snap["num_buckets"], *[F.col(c) for c in key_cols])
        if sort_within:
            # the group columns lead the sort: the dynamic-partition writer
            # requires ordering by the partition column and would insert
            # its OWN (unstable) sort otherwise, scrambling the key
            # clustering this exists to produce. sort_expr (e.g. a
            # z-order key) replaces the key clustering when given.
            order = (
                [sort_expr] if sort_expr is not None
                else [F.col(c) for c in key_cols]
            )
            df = df.sortWithinPartitions(*self._group_cols(snap), *order)
        writer = (
            df.write.partitionBy(*self._group_cols(snap)).mode("overwrite")
            .option("compression", DATA_FILE_CODEC)
        )
        if row_group_bytes is not None:
            # smaller parquet row groups = finer stats granularity for
            # skip-scans (and the knob the clustering tests pin)
            writer = writer.option("parquet.block.size", str(row_group_bytes))
        writer.parquet(out_dir)
        files = _list_buckets(out_dir)
        if not files:
            shutil.rmtree(out_dir, ignore_errors=True)  # nothing to reference
        return files

    def max_lsn(self, spark: SparkSession) -> int:
        """Highest applied LSN across base, delta and tombstone files —
        parquet-footer statistics only (cached per immutable file), no
        Spark job. 0 for an empty table."""
        files = self._snap_files(self.snapshot())
        if not files:
            return 0
        best = _files_max_lsn(files)
        return best if best is not None else 0

    def delete_where(
        self,
        spark: SparkSession,
        condition,
        lsn: int | None = None,
    ) -> MergeResult:
        """Bulk predicate delete (retention sweeps / GDPR erasure):
        resolve the current state, project the KEYS of rows matching
        ``condition`` (a Column or SQL string), and merge delete
        events for them at an LSN above the table's maximum (footer
        stats, no extra job), so the deletes win LWW everywhere and
        leave tombstones that stop later stale events from
        resurrecting the keys. One resolve + one ordinary merge; only
        matching buckets rewrite. Idempotent: a second identical call
        matches nothing."""
        if isinstance(condition, str):
            condition = F.expr(condition)
        snap = self.snapshot()
        if lsn is None:
            lsn = self.max_lsn(spark) + 1
        # a partitioned table's delete events carry the partition column
        keys = (
            self.read(spark)
            .filter(condition)
            .select(*snap["key_cols"], *([snap["partition_col"]]
                                        if snap.get("partition_col") else []))
        )
        changes = keys.select(
            "*",
            F.lit("delete").alias("op"),
            F.lit(lsn).cast("long").alias("lsn"),
        )
        # the keys frame derives from THIS table's current snapshot;
        # localCheckpoint pins it so the merge's multiple evaluations
        # cannot observe the table mid-rewrite (self-referential merge)
        changes = changes.localCheckpoint(eager=True)
        return self.merge(changes, _operation_label="delete-where")

    def clone_to(self, dest: str, version: int | None = None) -> "LakeTable":
        """Deep-copy one snapshot into a NEW independent table
        (Iceberg snapshot-export analog — the dev-copy / share-a-
        -version workflow). Data files are COPIED, so nothing the
        source does afterwards (merges, compaction, vacuum) can touch
        the clone, and vice versa. Schema, key columns, bucket
        layout, dict encodings, tie-break family and commit mode
        carry over; history does not — the clone's chain is
        create(0) -> clone(1). MOR deltas and tombstones copy as-is,
        so a cloned merge-on-read snapshot resolves identically.

        Fails loudly if the requested version's files were already
        vacuumed (same contract as rollback)."""
        import shutil as _shutil

        snap = self.snapshot(version)
        missing = [f for f in self._snap_files(snap) if not os.path.exists(f)]
        if missing:
            raise ValueError(
                f"cannot clone version {snap['version']}: {len(missing)} "
                f"data files already vacuumed (first: {missing[0]})"
            )
        clone = LakeTable.create(
            dest,
            T.StructType.fromJson(json.loads(snap["schema"])),
            key_cols=snap["key_cols"],
            num_buckets=snap["num_buckets"],
            dict_cols=snap.get("dict_cols") or None,
            tiebreak_family=snap.get("tiebreak_family", "xxhash64"),
            commit_mode=snap.get("commit_mode", "pointer"),
            partition_col=snap.get("partition_col"),
            transform=snap.get("transform") or "days",
        )
        copy_dir = os.path.join(clone.data_dir, f"clone-{uuid.uuid4().hex}")
        maps = _side_maps(snap)

        def copy_map(m: dict) -> dict:
            out: dict[str, list[str]] = {}
            for b, fl in m.items():
                dd = os.path.join(copy_dir, f"b={b}")
                os.makedirs(dd, exist_ok=True)
                new = []
                for f in fl:
                    dst = os.path.join(dd, f"{uuid.uuid4().hex}.parquet")
                    _shutil.copy2(f, dst)
                    new.append(dst)
                out[b] = sorted(new)
            return out

        clone._commit(
            _next_snapshot(
                clone.snapshot(),
                {
                    "operation": "clone",
                    "cloned_from": self.path,
                    "cloned_version": snap["version"],
                },
                files=copy_map(maps["b"]),
                deltas=copy_map(maps["d"]),
                tombstones=copy_map(maps["t"]),
                row_counts=snap.get("row_counts", {}),
            )
        )
        return clone

    def begin_wap(self, wap_id: str) -> "LakeTable":
        """Open (or re-attach to) a write-audit-publish stage: a
        LakeTable whose commits land on a private staged chain,
        invisible to readers until ``publish()`` (see lake/wap.py)."""
        from .wap import WapStage

        return WapStage(self.path, wap_id)

    def overwrite(self, df: DataFrame, lsn: int = 0) -> int:
        """Full-refresh load (reference entry point C: the xlsx batch
        load, userCode/xlsx/main.py:19-28 — no watermark, replace all)."""
        snap = self.snapshot()
        out = df
        if LSN_COL not in df.columns:
            out = out.withColumn(LSN_COL, F.lit(lsn).cast("long"))
        # no event payload to hash: the rows lose an exact-LSN tie
        out = out.withColumn(_TB_COL, F.lit(None).cast("long"))
        files = self._write_buckets(out.withColumns(self._group_cols(snap)), snap)
        new = _next_snapshot(
            snap,
            {"operation": "overwrite"},
            schema=json.dumps(
                T.StructType(
                    [f for f in df.schema.fields if f.name != LSN_COL]
                ).jsonValue()
            ),
            files=files,
            # a full refresh replaces pending MOR state too
            deltas={},
            tombstones={},
            row_counts=_rows_per_bucket(files),
        )
        self._commit(new)
        return new["version"]

    # ---------------------------------------------------------- merge
    # Iceberg-safe type promotions. Parquet files written with the
    # narrow type read back natively under the wide schema on Spark 4's
    # vectorized reader (verified: int32->long, float->double), so
    # widening is a pure metadata change — no rewrite.
    _INT_RANK = {T.ByteType(): 1, T.ShortType(): 2, T.IntegerType(): 3, T.LongType(): 4}
    _FLOAT_RANK = {T.FloatType(): 1, T.DoubleType(): 2}

    @classmethod
    def _widened(cls, a: T.DataType, b: T.DataType) -> T.DataType | None:
        """The wider of two types if they sit on one safe-promotion
        chain (integral or floating), else None."""
        for rank in (cls._INT_RANK, cls._FLOAT_RANK):
            if a in rank and b in rank:
                return a if rank[a] >= rank[b] else b
        return None

    @classmethod
    def evolve_schema(cls, snap: dict, incoming: T.StructType) -> T.StructType:
        """Schema evolution at merge time (Iceberg ALTER TABLE analog;
        reference: pydantic extra='allow', userCode/groundwater/
        wells.py:30,269 and the carried-through undeclared field test
        userCode/groundwater/wells_test.py:29-31):

        - ADD: new incoming columns are appended (old files null-fill);
        - WIDEN: Iceberg-safe promotions (int->long, float->double,
          and the byte/short prefixes) adopt the WIDER of the stored
          and incoming type — stored narrow files read back under the
          wide schema natively, and a narrower incoming batch casts up;
        - KEY columns never widen: Spark's Murmur3 hashes int and long
          to DIFFERENT values, so a key-type change would silently
          scatter existing keys across wrong buckets — error instead;
        - anything else (string->int, dropped columns, ...) is not
          evolution — error.

        Evolves against ``snap``, the caller's pinned snapshot, so a
        merge reads its manifest once."""
        current = T.StructType.fromJson(json.loads(snap["schema"]))
        key_cols = set(snap["key_cols"])
        cur_names = {f.name: f for f in current.fields}
        out = list(current.fields)
        added = []
        changed = False
        for f in incoming.fields:
            if f.name in (LSN_COL, _BUCKET_COL, _ACTION_COL, _DEL_COL, _OP_COL):
                continue
            if f.name in cur_names:
                cur_t = cur_names[f.name].dataType
                if f.dataType == cur_t:
                    continue
                wide = cls._widened(cur_t, f.dataType)
                if wide is None:
                    raise ValueError(
                        f"incompatible type change for column {f.name}: "
                        f"{cur_t} -> {f.dataType}"
                    )
                if f.name in key_cols and wide != cur_t:
                    raise ValueError(
                        f"cannot widen key column {f.name} ({cur_t} -> "
                        f"{wide}): the bucket layout hashes the stored "
                        f"type; recreate the table to change key types"
                    )
                if wide != cur_t:
                    out = [
                        T.StructField(f.name, wide, True) if g.name == f.name else g
                        for g in out
                    ]
                    changed = True
            else:
                added.append(T.StructField(f.name, f.dataType, True))
        if not added and not changed:
            return current
        return T.StructType(out + added)

    def merge(
        self,
        updates: DataFrame,
        op_col: str = "op",
        lsn_col: str = "lsn",
        mode: str = "cow",
        _operation_label: str = "merge",
        _summary_extra: dict | None = None,
    ) -> MergeResult:
        """Apply a change batch with LWW-by-LSN semantics.

        ``updates`` columns: key cols + ``op`` (insert|update|delete) +
        ``lsn`` (monotonic long) + payload columns. The batch may
        contain multiple events per key (intra-batch duplicates,
        out-of-order); a ranking window dedups them after the merge's
        one shuffle, which moves the batch alone.

        Semantics (north_rule LWW): per key, highest LSN wins; base
        row participates with its stored ``_lsn`` so replayed or
        out-of-order events with lower LSN are no-ops; a winning
        delete removes the row.

        mode="cow" (default): copy-on-write — resolve against the base
        now, rewrite touched buckets. Read-optimized. The deduplicated
        batch joins the touched buckets' base, tombstone and pending
        delta files through their bucketed scan (_cow_commit), so base
        rows are read in place and never shuffled.
        mode="mor": merge-on-read — dedup the batch and append it as
        per-bucket delta files (delete tombstones included); reads and
        compact() resolve. Write-optimized: apply cost is independent
        of table size (the Hudi-MOR / Iceberg-v2-deletes pattern).

        An empty batch commits nothing and returns ``empty=True`` with
        the current version, and no write dir is left behind. The merge
        finds it out from the scans it runs anyway: cow's touched-bucket
        pass finds no bucket (on a first load, which skips that pass,
        the write produces no file), and mor's resolve+write job writes
        no delta file. So mor scans the batch once and cow twice.
        """
        spark = updates.sparkSession
        snap = self.snapshot()
        key_cols: list[str] = snap["key_cols"]
        if snap.get("partition_col") and _PART_COL in updates.columns:
            raise ValueError(f"column {_PART_COL!r} is reserved in a partitioned table")

        # -- schema evolution (additive) ---------------------------
        payload_fields = T.StructType(
            [f for f in updates.schema.fields if f.name not in (op_col, lsn_col)]
        )
        evolved = self.evolve_schema(snap, payload_fields)

        # pass the already-parsed snapshot everywhere below: the manifest
        # JSON can carry thousands of file paths, and merge is the hot
        # apply path — don't re-parse it per helper (round-2 advice)
        n_buckets = snap["num_buckets"]
        upd = updates
        # KEY columns must hash with the STORED key types before any
        # bucket arithmetic: Spark's Murmur3 hashes int and long to
        # different values, so a batch that sends a (safely) narrower
        # key type would otherwise compute a wrong touched-bucket set
        # and abort on the stray guard (review finding). _tag_select
        # casts payload columns later; keys must be cast HERE because
        # the touched scan below runs on the raw batch.
        stored_keys = {
            f.name: f.dataType
            for f in T.StructType.fromJson(json.loads(snap["schema"])).fields
            if f.name in key_cols
        }
        upd_types = {f.name: f.dataType for f in upd.schema.fields}
        for c in key_cols:
            if c in upd_types and upd_types[c] != stored_keys[c]:
                upd = upd.withColumn(c, F.col(c).cast(stored_keys[c]))

        # -- merge-on-read fast path --------------------------------
        # Apply cost independent of table size: dedup the batch alone
        # (one shuffle of the BATCH, no base read), append per-bucket
        # delta files with op tombstones; reads/compaction resolve. It
        # needs no touched set, so it skips the pass below.
        if mode == "mor":
            return self._merge_mor(
                spark, snap, upd, evolved, op_col, lsn_col,
                _summary_extra=_summary_extra,
            )

        # -- partition pruning: which groups does the batch touch? --
        # One cheap pass over the batch (group keys only: buckets, or
        # (partition, bucket) pairs), which also answers emptiness.
        # Skipped when the table is completely empty (no base files AND
        # no deltas) — nothing to prune, save the scan; the write's
        # groups are then the touched ones. With deltas present the real
        # touched set matters: only touched groups' deltas get folded
        # and cleared (selective compaction depends on this). The same
        # pass notes whether any key value is null: the cow join cannot
        # match those (see _zx_winners).
        null_keys = False
        touched = None
        if any(snapshot_files(snap)):
            keyed = _and_all([F.col(c).isNotNull() for c in key_cols])
            gcols = self._group_cols(snap)
            bstats = (
                upd.groupBy(*[e.alias(c) for c, e in gcols.items()])
                .agg(F.max(~keyed).alias("nk")).collect()
            )
            if not bstats:
                return MergeResult(version=snap["version"], empty=True)
            if _PART_COL in gcols and any(r[_PART_COL] is None for r in bstats):
                raise ValueError(
                    f"update rows have a null/invalid {snap['partition_col']!r}; "
                    "change events must carry a routable partition value"
                )
            touched = {
                _group_key(r[_PART_COL] if _PART_COL in gcols else None, r[_BUCKET_COL])
                for r in bstats
            }
            null_keys = any(r["nk"] for r in bstats)

        # -- THE one shuffle: the batch alone -------------------------
        # _resolve_batch's repartition(num_buckets, keys), on keys
        # already cast to the stored types, is Spark's HashPartitioning,
        # bit-identical to _bucket_expr() and to the bucketed scan of the
        # touched buckets' base, tombstone and delta files. The full-outer
        # join against that scan therefore needs no exchange on either
        # side, each task holds one storage bucket for the write, and no
        # base row crosses the wire: the hash-build side is one bucket's
        # deduplicated batch slice.
        return self._cow_commit(
            spark, snap, evolved, touched,
            lambda reg_root, tables, nonkey: self._batch_cand(
                upd, snap, evolved, op_col, lsn_col, nonkey, n_buckets
            ),
            _operation_label=_operation_label,
            _summary_extra=_summary_extra,
            null_keys=null_keys,
        )

    def _cow_commit(
        self,
        spark: SparkSession,
        snap: dict,
        evolved: T.StructType,
        touched: set[str] | None,
        upd_side,
        _operation_label: str,
        _summary_extra: dict | None = None,
        null_keys: bool = False,
        strict: bool = True,
    ) -> MergeResult:
        """THE copy-on-write resolve, shared by merge(),
        merge_prebucketed() and the delta fold: register the touched
        groups' base, tombstone and pending-delta files as one bucketed
        table (_zx_base_tomb_side), full-outer join it with the batch's
        candidate side (_zx_winners), hand the winners to _finalize_cow,
        and always drop the session tables and the hardlink dir, also
        when the merge aborts.

        ``upd_side(reg_root, tables, nonkey)`` builds the batch's
        __cand_u side; it may register its own bucketed tables under
        ``reg_root`` and append their names to ``tables``. None is the
        delta fold: no batch, the base side's winners pass through.
        A batch side that contributes no key is an empty merge, which
        commits nothing (_finalize_cow). ``null_keys`` says the batch
        may hold a null key value (_zx_winners). ``touched`` None (a
        first load) links no base file; ``strict`` is _finalize_cow's."""
        import shutil

        key_cols: list[str] = snap["key_cols"]
        reg_root = os.path.join(self.path, "_bucketed", f"reg-{uuid.uuid4().hex}")
        tables: list[str] = []
        try:
            nonkey = [f for f in evolved.fields if f.name not in key_cols]
            upd = upd_side(reg_root, tables, nonkey) if upd_side else None
            bt_dir = os.path.join(reg_root, "basetomb")
            base_side = None
            if touched and self._link_base_tomb(_side_maps(snap, touched), bt_dir):
                tables.append(f"zx_{uuid.uuid4().hex[:12]}")
                base_side = self._zx_base_tomb_side(
                    spark, snap, bt_dir, tables[-1], nonkey
                )
            if upd is None and base_side is None:
                return MergeResult(version=snap["version"])
            winners = self._zx_winners(
                upd, base_side, self._ident(snap), nonkey, null_keys
            )
            return self._finalize_cow(
                spark, snap, evolved, winners, touched,
                _operation_label=_operation_label,
                _summary_extra=_summary_extra,
                batch=upd is not None,
                strict=strict,
            )
        finally:
            for name in tables:
                try:
                    spark.sql(f"DROP TABLE IF EXISTS `{name}`")
                except Exception:
                    pass
            shutil.rmtree(reg_root, ignore_errors=True)

    def _finalize_cow(
        self,
        spark: SparkSession,
        snap: dict,
        evolved: T.StructType,
        winners: DataFrame,
        touched: set[str] | None,
        _operation_label: str = "merge",
        _summary_extra: dict | None = None,
        batch: bool = True,
        strict: bool = True,
    ) -> MergeResult:
        """Shared copy-on-write tail: winners (columns = decoded payload
        + __lsn/__tb/__op/__src/__all_chg/__in_u, one storage
        bucket per task) -> action classification -> single-pass
        bucketed write with observed metrics -> snapshot commit. Called
        only by _cow_commit.

        With ``batch`` (a merge, not the delta fold) the write job also
        counts the keys the batch contributed (__in_u); none means an
        empty batch — a first load's write of no file, or a
        merge_prebucketed window whose WAL files hold no row inside its
        LSN range — and the write dir is removed, nothing committed.

        The written groups replace the touched ones. ``strict`` (merge(),
        whose batch may evaluate twice) refuses any written group outside
        ``touched``; otherwise (files on disk: merge_prebucketed, the
        fold) only a written group that holds files the resolve did not
        read is refused, and new groups are added."""
        # -- single-pass write + metrics ----------------------------
        # ONE Spark job writes everything: surviving rows land in
        # _del=false; winning deletes AND carried tombstones land in
        # _del=true files that the snapshot references as tombstones
        # (retained so later stale events cannot resurrect the key).
        # Each row carries its merge _action; metrics RIDE the write
        # job via observe() (CollectMetrics accumulators) instead of a
        # second column-pruned scan of the written files — the re-read
        # job cost a measured 0.56s per apply at the 751k-row bench
        # table, pure overhead on every COW merge. (Iceberg analog:
        # MERGE commit metrics + equality-delete files.) No reader asks
        # for _action, so like __in_u it is dropped after the observe()
        # and never written.
        action = (
            F.when(F.col("__op") == _OP_TOMBSTONE, F.lit("noop"))  # carried
            .when(F.col("__src") == 0, F.lit("noop"))  # base won
            .when(
                (F.col("__op") == _OP_DELETE) & (F.col("__all_chg") == 0),
                F.lit("delete"),
            )
            .when(F.col("__op") == _OP_DELETE, F.lit("dropped"))
            .when(F.col("__all_chg") == 0, F.lit("update"))
            .otherwise(F.lit("insert"))
        )
        out = winners.select(
            *[F.col(f.name) for f in evolved.fields],
            F.col("__lsn").alias(LSN_COL),
            # the winner's tie-break persists into base/tombstone files so
            # the NEXT merge can order an exact-LSN rematch deterministically
            F.col("__tb").alias(_TB_COL),
            action.alias(_ACTION_COL),
            *[e.alias(c) for c, e in self._group_cols(snap).items()],
            F.col("__op").isin(_OP_DELETE, _OP_TOMBSTONE).alias(_DEL_COL),
            F.col("__in_u"),
        )
        import shutil

        from pyspark.sql import Observation

        _ACTS = ("insert", "update", "delete", "noop", "dropped")
        ob = Observation()
        out = out.observe(
            ob,
            *[
                F.count(F.when(F.col(_ACTION_COL) == a, 1)).alias(a)
                for a in _ACTS
            ],
            F.count(F.when(F.col("__in_u"), 1)).alias("batch"),
        ).drop("__in_u", _ACTION_COL)
        out_dir = os.path.join(self.data_dir, f"w-{uuid.uuid4().hex}")
        # rows are already clustered one-bucket-per-task: the batch's
        # repartition and the bucketed base scan share the bucket
        # function, and the join keeps that layout — no shuffle here
        out.write.partitionBy(*self._group_cols(snap), _DEL_COL).mode("overwrite").option(
            "compression", DATA_FILE_CODEC
        ).parquet(out_dir)

        new_files = _list_buckets(out_dir, f"{_DEL_COL}=false")
        new_tombs = _list_buckets(out_dir, f"{_DEL_COL}=true")
        counts = {}
        if new_files or new_tombs:
            # the write job already ran (files exist), so the observed
            # metrics are final; a write of no file wrote no row, so
            # every count, the batch's included, is 0
            counts = {k: v for k, v in ob.get.items() if v}
        if batch and not counts.get("batch"):
            shutil.rmtree(out_dir, ignore_errors=True)
            return MergeResult(version=snap["version"], empty=True)
        # -- non-deterministic-source guard --------------------------
        # `updates` is evaluated twice (touched-group scan, then
        # resolve/write). A non-deterministic source whose later
        # evaluation lands outside `touched` would replace those
        # groups with ONLY the new rows, silently dropping their
        # unread base rows. Abort BEFORE commit instead:
        # no snapshot is written, the orphan write dir is vacuum-safe
        # (age-gated), and the caller is told to checkpoint the batch.
        written = set(new_files) | set(new_tombs)
        kept = _side_maps(snap)
        stray = written - (touched or written)
        if not strict:
            stray &= {g for m in kept.values() for g in m}
        if stray:
            raise RuntimeError(
                f"merge batch wrote groups {sorted(stray)} outside the "
                f"touched set collected from its first evaluation — the "
                f"updates DataFrame is non-deterministic; persist() or "
                f"localCheckpoint() it before merge()"
            )
        groups = sorted((touched or set()) | written, key=_split_group)
        part_counts = {_group_label(g): len(fl) for g, fl in new_files.items()}

        # carry untouched groups forward (copy-on-write pruning);
        # deltas and tombstones of touched groups were folded in and
        # re-emitted, so replace them with the fresh files
        row_counts = dict(snap.get("row_counts", {}))
        for g in groups:
            for m in (*kept.values(), row_counts):
                m.pop(g, None)
        # per-bucket row lineage from parquet footers (no data scan,
        # threaded opens); read by stats, metadata frames and maintenance
        row_counts.update(_rows_per_bucket(new_files))

        new_version = snap["version"] + 1
        result = MergeResult(
            version=new_version,
            rows_inserted=counts.get("insert", 0),
            rows_updated=counts.get("update", 0),
            rows_deleted=counts.get("delete", 0),
            rows_noop=counts.get("noop", 0),
            rows_dropped=counts.get("dropped", 0),
            touched_buckets=[_group_label(g) for g in groups],
            partition_counts=part_counts,
        )
        self._commit(
            _next_snapshot(
                snap,
                {"operation": _operation_label, **result.as_dict(),
                 **(_summary_extra or {})},
                schema=json.dumps(evolved.jsonValue()),
                files={**kept["b"], **new_files},
                deltas=kept["d"],
                tombstones={**kept["t"], **new_tombs},
                row_counts=row_counts,
            )
        )
        return result

    # ---------------------------------------- zero-exchange machinery
    @staticmethod
    def _zx_cand(df, src, lsn_expr, op_expr, tb,
                 key_cols: list[str], nonkey: list,
                 extra: tuple = ()) -> DataFrame:
        """One side's per-key candidate struct: rank fields FIRST so a
        single greatest() applies the _lww_order total order —
        (lsn, tb, -src); struct comparison treats null fields as
        smallest, matching desc_nulls_last. ``src`` is an int for a
        homogeneous side or a Column of per-row src values (the
        delta-folding base side mixes src=0 b/t rows with src=1 delta
        rows); ``extra`` columns ride OUTSIDE the struct (they carry
        side metadata like __had_bt that must not perturb the
        greatest() comparison)."""
        ns = (F.lit(-src) if isinstance(src, int) else -src)
        return df.select(
            *[F.col(c) for c in key_cols],
            F.struct(
                lsn_expr.cast("long").alias("l"),
                tb.cast("long").alias("t"),
                ns.cast("int").alias("ns"),
                op_expr.cast("tinyint").alias("op"),
                *[
                    (
                        F.col(f.name).cast(f.dataType)
                        if f.name in df.columns
                        else F.lit(None).cast(f.dataType)
                    ).alias(f"p_{f.name}")
                    for f in nonkey
                ],
            ).alias("__cand"),
            *extra,
        )

    @staticmethod
    def _link_base_tomb(maps: dict, bt_dir: str) -> bool:
        """Hardlink the base, tombstone and pending delta files of the
        side maps ``maps`` (_side_maps) under ``bt_dir``'s side=b /
        side=t / side=d dirs (the layout _zx_base_tomb_side registers),
        named by bucket: the groups of one bucket in all partitions
        share it. False if the maps hold no file at all."""
        from . import bucketed as B

        linked = False
        for side, sel in maps.items():
            by_bucket: dict[str, list[str]] = {}
            for g, fl in sel.items():
                by_bucket.setdefault(str(_split_group(g)[1]), []).extend(fl)
            if by_bucket:
                B.link_files_bucketed(by_bucket, os.path.join(bt_dir, f"side={side}"))
                linked = True
        return linked

    def _zx_base_tomb_side(
        self, spark, snap: dict, bt_dir: str, name: str,
        nonkey: list, radix: bool = True,
    ) -> DataFrame:
        """Base rows, tombstones AND pending MOR delta files (linked
        under ``bt_dir`` by _link_base_tomb) registered as ONE bucketed
        table ``name`` (IF NOT EXISTS) partitioned by a side= directory
        column — a second full-outer join would coalesce the first join's key
        columns, hiding their partitioning from Catalyst and forcing an
        exchange (measured, then fixed with this single-table design).
        Stored schema derives from the PINNED snap (no CURRENT re-read
        racing a concurrent commit); evolved columns the files lack
        null-fill through _zx_cand's missing-column arm. Returns the
        candidate-struct side: one row per key.

        Delta folding (side=d): touched buckets' merge-on-read deltas
        are just more already-committed updates, so they fold into every
        copy-on-write merge with ZERO exchange: deltas were written
        one-bucket-per-file, so they register into the same bucketed
        table. Base/tomb keys are
        disjoint but deltas overlap both and repeat per key, so the
        combined side is pre-deduped to one row per key by a window
        whose clustering the bucketed scan already satisfies, ordered
        by _lww_order with the src bit (base beats batch on a full
        tie): _side_winners.
        __had_bt carries the __all_chg semantics (is there a base or
        tombstone row for the key?): a delta-only key still counts as
        all-changed, so insert-vs-update / delete-vs-dropped metrics
        do not depend on whether the earlier events were compacted.
        ``radix`` goes to that window (_lww_top1). The rows are keyed by
        _ident: a partitioned table's partition value joins the keys."""
        from . import bucketed as B

        part_schema = T.StructType(
            list(self._side_stored(snap).fields)
            + [T.StructField("side", T.StringType())]
        )
        B.register_bucketed_table(
            spark, part_schema, bt_dir, snap["key_cols"], snap["num_buckets"],
            name=name, partition_col="side", if_not_exists=True,
        )
        spark.sql(f"ALTER TABLE `{name}` RECOVER PARTITIONS")
        bt = self._with_partition(_with_stored_tb(spark.table(name)), snap)
        key_cols = self._ident(snap)
        if not os.path.isdir(os.path.join(bt_dir, "side=d")):
            return self._zx_cand(
                bt, 0, F.col(LSN_COL), _side_op(), F.col(_TB_COL),
                key_cols, nonkey,
                extra=(F.lit(True).alias("__had_bt"),),
            ).withColumnRenamed("__cand", "__cand_b")
        return self._side_winners(bt, key_cols, nonkey, radix=radix)

    @staticmethod
    def _side_stored(snap: dict, side: str | None = None) -> T.StructType:
        """THE stored schema of the data files, from the pinned snap:
        the payload, the LSN guard and the tie-break value, plus the op
        column that only delta files carry. ``side`` 'b' or 't' gives
        the schema of base or tombstone files alone; by default the
        files of all sides read as one, and base and tombstone files
        null-fill the op column (parquet by-name resolution), as legacy
        files do _tb (_with_stored_tb reads their limbs). The tie-break
        persists in base files too: a cross-batch same-(key, lsn) tie
        must resolve identically whether the earlier event already
        reached the base (cow) or still sits in a delta (mor)."""
        return T.StructType(
            list(T.StructType.fromJson(json.loads(snap["schema"])).fields)
            + [
                T.StructField(c, T.LongType(), True)
                for c in (LSN_COL, _TB_COL, *_LEGACY_TB)
            ]
            + ([T.StructField(_OP_COL, T.StringType(), True)]
               if side in (None, "d") else [])
        )

    def _read_stored(self, spark: SparkSession, snap: dict, files: list[str],
                     side: str | None = None) -> DataFrame:
        """Data ``files`` of ``snap`` as _side_stored columns, one _tb."""
        return _with_stored_tb(
            spark.read.schema(self._side_stored(snap, side)).parquet(*files)
        )

    @classmethod
    def _side_winners(cls, df: DataFrame, key_cols: list[str],
                      nonkey: list, radix: bool = True) -> DataFrame:
        """THE per-key LWW resolve of base, tombstone and delta rows: one
        winner per key, as the __cand_b candidate struct plus __had_bt.
        ``df`` holds _side_stored columns (one _tb) plus ``side`` ('b'
        base, 't' tombstone, 'd' delta), which sets each row's op and src bit.
        Every reader of a version (read, lookup), the copy-on-write
        merge's base side, the compaction fold and the changelog resolve
        here. ``df`` must already be clustered by key — a bucketed scan's
        HashPartitioning or a coalesce(1)'s SinglePartition satisfies
        the window — so the resolve adds no Exchange. The __had_bt max
        shares the rank's window spec (_lww_top1's ``full_frame``), so
        the plan holds one Window operator. ``radix=False`` (the
        changelog) sorts by the keys first, for the sort-merge join
        above."""
        src = F.when(F.col("side") == "d", F.lit(1)).otherwise(F.lit(0))
        bt1 = _lww_top1(
            df, key_cols, LSN_COL, _TB_COL, src=src,
            full_frame={"__had_bt": F.max(F.col("side") != "d")},
            radix=radix,
        )
        return cls._zx_cand(
            bt1, src, F.col(LSN_COL), _side_op(), F.col(_TB_COL),
            key_cols, nonkey,
            extra=(F.col("__had_bt"),),
        ).withColumnRenamed("__cand", "__cand_b")

    @staticmethod
    def _zx_winners(upd_side: DataFrame | None, base_side: DataFrame | None,
                    key_cols: list[str], nonkey: list,
                    null_keys: bool = False) -> DataFrame:
        """Full-outer SHUFFLE_HASH join + greatest-of-candidates. With
        both scans reporting the same HashPartitioning the planner uses
        a no-shuffle ShuffledHashJoin — unlike sort-merge it needs NO
        per-task sorts either (measured 10.2s SMJ -> 7.5s SHJ on the
        32M steady-state regime); build memory is one bucket's deduped
        update slice. A batch side repartitioned on the keys into the
        same bucket count (merge()) reports the same partitioning, so
        the join adds no exchange there either. Output columns are
        _finalize_cow's contract: payload +
        __lsn/__tb/__op/__src/__all_chg, and __in_u (the batch
        side holds the key, whether or not it won).

        upd_side=None is the delta-FOLD degenerate case (zero-exchange
        compaction): no update batch at all, the base/tomb/delta side's
        per-key winner — already resolved by _zx_base_tomb_side's
        no-exchange dedup window — passes straight through, no join.

        Null key values are ordinary keys (lookup and read_changes match
        them null-safely). With ``null_keys`` (the batch holds a null key
        value) the null-keyed rows of both sides resolve in
        _outer_join_on_keys' groupBy split, and the base still never
        crosses an exchange (pinned by tests/test_plans.py). Without
        ``null_keys``, a null-keyed base row just passes through the
        join unmatched."""
        if upd_side is None and base_side is None:
            raise ValueError(
                "_zx_winners needs an update side, a base side, or both"
            )
        in_u = F.col("__cand_u").isNotNull() if upd_side is not None else F.lit(False)
        if base_side is None:
            joined, winner = upd_side, F.col("__cand_u")
            base_side_present = F.lit(False)
        else:
            if upd_side is None:
                joined, winner = base_side, F.col("__cand_b")
            else:
                joined = _outer_join_on_keys(
                    upd_side, base_side, key_cols, null_keys, hint="SHUFFLE_HASH"
                )
                winner = F.greatest("__cand_u", "__cand_b")
            # __had_bt (nullable through the outer join) distinguishes a
            # real base/tombstone row from a folded delta-only key
            base_side_present = (
                F.col("__had_bt").eqNullSafe(F.lit(True))
                if "__had_bt" in base_side.columns
                else F.col("__cand_b").isNotNull()
            )
        return joined.select(
            *[F.col(c) for c in key_cols],
            *[winner[f"p_{f.name}"].alias(f.name) for f in nonkey],
            winner["l"].alias("__lsn"),
            winner["t"].alias("__tb"),
            winner["op"].alias("__op"),
            F.when(winner["ns"] == 0, 0).otherwise(1).alias("__src"),
            F.when(base_side_present, 0).otherwise(1).alias("__all_chg"),
            in_u.alias("__in_u"),
        )

    # ------------------------------------------- zero-exchange merge
    def merge_prebucketed(
        self,
        spark: SparkSession,
        source_path: str,
        op_col: str = "op",
        lsn_col: str = "lsn",
        lsn_range: tuple[int, int] | None = None,
        validate_layout: bool = False,
    ) -> MergeResult:
        """Copy-on-write merge of a PRE-BUCKETED change log with ZERO
        exchanges (DESIGN.md §9's top structural lever; reference
        analog: the shuffle-free per-station partition crawl,
        userCode/wrd/dag.py:68,386-394).

        ``source_path`` must hold a Spark-native bucketed layout
        (``lake.bucketed.write_bucketed_wal``): bucketed by this
        table's key columns into this table's num_buckets with Spark's
        own bucket function — which is bit-identical to the engine's
        ``_bucket_expr``. Both the WAL and the table's own per-bucket
        snapshot files (hardlinked under bucket-suffix names) are then
        registered as catalog bucketed tables, whose scans REPORT
        HashPartitioning(key_cols, n). The whole resolve — batch LWW
        dedup window, full-outer join against base and tombstones —
        therefore satisfies every required distribution from storage:
        no Exchange anywhere in the plan (pinned by tests/test_plans).
        The batch side is merge()'s (_batch_cand), minus the
        repartition. The join is a ShuffledHashJoin, which sorts
        nothing; the one per-task Sort is the batch window's (plus the
        base side's window when deltas are pending).

        Semantics are IDENTICAL to merge(): the join compares the same
        (lsn, tb desc-nulls-last, base-first) total order via a
        single greatest() over per-side candidate structs, and the
        winner feeds the same _finalize_cow tail (action metrics,
        bucketed write, snapshot commit).
        A WAL whose footers show a null key value takes _zx_winners'
        null-key split.

        Restriction: key column types in the WAL must EXACTLY match
        the stored key types (the bucket layout hashed them; a cast
        cannot fix file placement).

        A partitioned table takes the same WAL (bucketed by the keys;
        the rows carry their partition column). The touched groups are
        the table's groups in the WAL's buckets whose partition lies in
        the range the WAL files' footer min/max of the partition column
        span — metadata only, like the LSN prune (all partitions of the
        bucket when a footer has no statistics). Rows of a partition the
        table does not hold yet form new groups.

        Pending MOR deltas fold in with the same contract as merge():
        touched buckets' deltas are absorbed (they were written
        one-bucket-per-file, so they register into the same bucketed
        base/tomb table and pre-dedup with a no-exchange window — see
        _zx_base_tomb_side); untouched buckets keep their deltas. A
        mixed MOR-then-COW loop therefore needs no compact() before
        the zero-exchange merge.

        validate_layout=True runs one column-pruned pass checking every
        row's engine bucket equals its file-name bucket — use in tests
        or after ingesting a foreign WAL; off by default (O(batch)).

        lsn_range=(lo, hi) applies the runner's window predicate inside
        the bucketed scan (filters do not disturb the reported
        partitioning). WAL files can straddle the window and still hold
        no row inside it: the write job then counts no batch key, and
        the merge commits nothing (``empty=True``), like an empty
        merge()."""
        from . import bucketed as B

        snap = self.snapshot()
        key_cols: list[str] = snap["key_cols"]
        n_buckets = snap["num_buckets"]
        wal_files = B.collect_wal_files(source_path)
        if not wal_files:
            return MergeResult(version=snap["version"], empty=True)
        if max(int(b) for b in wal_files) >= n_buckets:
            raise ValueError(
                f"WAL bucket id {max(int(b) for b in wal_files)} >= table "
                f"num_buckets {n_buckets}: the log was bucketed with a "
                f"different spec"
            )
        wal_schema = spark.read.parquet(
            *[f for fl in wal_files.values() for f in fl]
        ).schema
        stored_fields = {
            f.name: f.dataType
            for f in T.StructType.fromJson(json.loads(snap["schema"])).fields
        }
        wal_fields = {f.name: f.dataType for f in wal_schema.fields}
        part_col = snap.get("partition_col")
        if part_col and part_col not in wal_fields:
            raise ValueError(f"WAL is missing partition column {part_col}")
        touched = self._wal_groups(snap, wal_files)
        for c in key_cols:
            if c not in wal_fields:
                raise ValueError(f"WAL is missing key column {c}")
            if wal_fields[c] != stored_fields[c]:
                raise ValueError(
                    f"WAL key column {c} is {wal_fields[c]}, table stores "
                    f"{stored_fields[c]}: bucket layouts hash the exact "
                    f"type — rewrite the WAL with the stored key types"
                )
        evolved = self.evolve_schema(
            snap,
            T.StructType(
                [f for f in wal_schema.fields if f.name not in (op_col, lsn_col)]
            )
        )

        def wal_side(reg_root: str, tables: list[str], nonkey: list) -> DataFrame:
            # normalize ANY WAL layout (flat, batch-subdirs, pruned
            # link dirs) into one flat hardlink dir for registration —
            # catalog bucketed tables do not walk non-partition subdirs
            wal_dir = os.path.join(reg_root, "wal")
            B.link_files_bucketed(wal_files, wal_dir)
            wal_name = B.register_bucketed_table(
                spark, wal_schema, wal_dir, key_cols, n_buckets
            )
            tables.append(wal_name)
            upd = spark.table(wal_name)
            if lsn_range is not None:
                upd = upd.filter(
                    (F.col(lsn_col) >= lsn_range[0])
                    & (F.col(lsn_col) <= lsn_range[1])
                )
            if validate_layout:
                fb = F.regexp_extract(F.input_file_name(), r"_(\d+)\.", 1).cast("int")
                bad = (
                    spark.table(wal_name)
                    .select(*[F.col(c) for c in key_cols], fb.alias("__fb"))
                    .filter(self._bucket_expr(snap) != F.col("__fb"))
                    .limit(1)
                    .count()
                )
                if bad:
                    raise ValueError(
                        "WAL layout invalid: a row's engine bucket differs "
                        "from its file-name bucket (wrong keys or bucket "
                        "count at write time)"
                    )
            # no n_buckets: HashPartitioning(keys) of the bucketed scan
            # already satisfies the batch window's clustering
            return self._batch_cand(upd, snap, evolved, op_col, lsn_col, nonkey)

        return self._cow_commit(
            spark, snap, evolved, touched, wal_side,
            _operation_label="merge-prebucketed",
            null_keys=_parquet_may_hold_nulls(
                [f for fl in wal_files.values() for f in fl], key_cols
            ),
            strict=False,
        )

    def _wal_groups(self, snap: dict, wal_files: dict[str, list[str]]) -> set[str]:
        """The groups a bucketed WAL touches: its buckets, or in a
        partitioned table the existing (partition, bucket) groups whose
        partition lies within the bucket files' footer range of the
        partition column."""
        if not snap.get("partition_col"):
            return set(wal_files)
        have = {(p, b) for _s, p, b, _f in snapshot_files(snap)}
        out = set()
        for b, files in wal_files.items():
            rng = _footer_partition_range(files, snap)
            out |= {
                _group_key(p, hb) for p, hb in have
                if hb == int(b) and (rng is None or rng[0] <= p <= rng[1])
            }
        return out

    def _fold_deltas_zx(self, spark: SparkSession, touched: set[str]) -> MergeResult:
        """Zero-exchange delta fold — compaction's MOR-fold step without
        the merge shuffle. The touched buckets' base, tombstone and
        delta files register as ONE catalog bucketed table
        (_zx_base_tomb_side); its no-exchange dedup window resolves the
        per-key winner; winners pass straight through (no update side,
        no join — _zx_winners(None, ...)) into the shared _finalize_cow
        tail. Measured motivation: at a 27.5M-row base / local[8], the
        window-resolve fold inside compact() shuffled ~3 GB per pass
        and dominated the MOR runner loop (BENCH.md §6b: 48-88s of each
        compaction cycle); this path does the same state transition
        with KB-level shuffle. Semantics identical to a cow merge of an
        empty batch over the touched buckets: same total order, same
        action metrics. The fold rewrites storage but not the RESOLVED
        row set, so it is labeled "compact-fold", not "merge":
        logical-staleness consumers (AnnIndex.stale) must not treat it
        as a data change."""
        snap = self.snapshot()
        return self._cow_commit(
            spark, snap, T.StructType.fromJson(json.loads(snap["schema"])),
            touched, None, _operation_label="compact-fold",
        )

    def _merge_mor(self, spark, snap, upd, evolved, op_col, lsn_col,
                   _summary_extra: dict | None = None) -> MergeResult:
        """Append path: within-batch LWW dedup (_resolve_batch), then
        per-bucket delta files carrying (_lsn, _op). No base read, no
        base rewrite. Dict columns ride the batch's exchange as codes.
        The resolve's repartition already clustered the batch one bucket
        per task, so the delta files write with no second exchange. A
        write of no delta file is an empty batch: nothing commits."""
        winners = self._resolve_batch(
            upd, snap, evolved, op_col, lsn_col, snap["num_buckets"]
        )
        out = winners.select(
            *[F.col(f.name) for f in evolved.fields],
            F.col("__lsn").alias(LSN_COL),
            # delta files keep the public string op (normalized)
            _op_decode(F.col("__op")).alias(_OP_COL),
            # persist the tie-break so the read-path resolve can
            # totally order cross-batch equal-LSN events WITHOUT hashing
            # payload (which would defeat read-side column pruning)
            F.col("__tb").alias(_TB_COL),
            *[e.alias(c) for c, e in self._group_cols(snap).items()],
        )
        new_delta = self._write_buckets(out, snap, prefix="d", pre_partitioned=True)
        if not new_delta:
            return MergeResult(version=snap["version"], empty=True)
        # footer row counts, not a Spark count() job: the old full
        # re-read of every just-written delta file was pure metrics
        # overhead on the hot MOR apply path (round-3 bench finding)
        total = sum(_rows_per_bucket(new_delta).values())

        deltas = _side_maps(snap)["d"]
        for b, fl in new_delta.items():
            deltas[b] = deltas.get(b, []) + fl
        new_version = snap["version"] + 1
        result = MergeResult(
            version=new_version,
            rows_delta=total,
            touched_buckets=[_group_label(g) for g in sorted(new_delta, key=_split_group)],
            partition_counts={_group_label(g): len(fl) for g, fl in new_delta.items()},
        )
        # base files, tombstones and base row lineage carry as-is:
        # deltas are not base rows
        self._commit(
            _next_snapshot(
                snap,
                {"operation": "merge-mor", **result.as_dict(),
                 **(_summary_extra or {})},
                schema=json.dumps(evolved.jsonValue()),
                deltas=deltas,
            )
        )
        return result

    def stats(self) -> dict:
        """Metadata-only table statistics (north_rule: per-partition
        lineage + row counts) — no Spark job: everything comes from the
        snapshot's manifest-style bookkeeping."""
        snap = self.snapshot()
        rc = {_group_label(g): n for g, n in (snap.get("row_counts") or {}).items()}
        n_files = Counter(side for side, *_gf in snapshot_files(snap))
        return {
            "version": snap["version"],
            "num_buckets": snap["num_buckets"],
            "rows_base": sum(rc.values()),
            "rows_per_bucket": rc,
            "base_files": n_files["b"],
            "delta_files": n_files["d"],
            "tombstone_files": n_files["t"],
            "dict_cols": snap.get("dict_cols", {}),
            "tiebreak_family": snap.get("tiebreak_family", "xxhash64"),
            "operation": snap.get("summary", {}).get("operation"),
        }

    # ---------------------------------------------------- maintenance
    def rollback(self, version: int) -> int:
        """Roll the table back to an earlier snapshot by COMMITTING a new
        snapshot that references the old version's files (Iceberg
        rollback_to_snapshot: history moves forward, data pointers move
        back). Fails loudly if any referenced file has already been
        vacuumed. Time travel to the rolled-back-over versions keeps
        working until they expire."""
        cur = self.snapshot()
        if not 0 <= version <= cur["version"]:
            raise ValueError(
                f"cannot roll back to version {version}: table history is "
                f"0..{cur['version']} (version never existed)"
            )
        try:
            target = self.snapshot(version)
        except FileNotFoundError as e:
            raise ValueError(
                f"cannot roll back to version {version}: its snapshot manifest "
                f"was vacuumed (expired by keep_last)"
            ) from e
        missing = [f for f in self._snap_files(target) if not os.path.exists(f)]
        if missing:
            raise ValueError(
                f"cannot roll back to version {version}: {len(missing)} data "
                f"files already vacuumed (first: {missing[0]})"
            )
        # the target's layout and data, committed on top of cur: history
        # moves forward, so the commit mode stays cur's
        new_version = cur["version"] + 1
        self._commit(
            _next_snapshot(
                cur,
                {"operation": "rollback", "to_version": version},
                **{
                    k: target.get(k, default)
                    for k, default in _SNAP_CARRIED.items()
                    if k != "commit_mode" and (k in target or default is not None)
                },
            )
        )
        # check-then-commit race: a vacuum that started BEFORE this commit
        # may delete the target's files (they looked expired to it). Once
        # committed they are head-referenced and safe from NEW vacuums;
        # re-verify and fail LOUDLY if the window was hit so the operator
        # restores/rolls forward instead of discovering broken reads later.
        # (Run vacuum and rollback from one maintenance process to avoid
        # the race entirely.)
        missing = [f for f in self._snap_files(target) if not os.path.exists(f)]
        if missing:
            raise RuntimeError(
                f"rollback committed version {new_version} but a concurrent "
                f"vacuum removed {len(missing)} of its data files (first: "
                f"{missing[0]}); roll forward to version {cur['version']} "
                f"(rollback({cur['version']})) or restore the files"
            )
        return new_version

    def compact(
        self,
        spark: SparkSession,
        target_files_per_bucket: int = 1,
        min_delta_files: int = 1,
        cluster_by: list[str] | None = None,
        cluster_bits: int = 16,
        row_group_bytes: int | None = None,
    ) -> int:
        """Bin-pack small files: rewrite every bucket that has more
        than target_files_per_bucket files into fewer, larger files.
        Incremental merges accrete one file per (batch, bucket); at
        10^10-event scale compaction bounds read amplification the
        same way Iceberg's rewrite_data_files does. Metadata-only for
        already-compact buckets (their file refs carry forward).

        Merge-on-read deltas are folded into the base first (the MOR
        compaction step) through the zero-exchange resolve
        (_fold_deltas_zx — KB-level shuffle instead of re-shuffling the
        touched base; see DESIGN.md §13), which resolves LWW +
        tombstones and clears the delta list. min_delta_files selects
        WHICH buckets fold: only those carrying at least that many
        delta files (at 10^10 scale you fold the read-amplified tail,
        not the whole table).

        cluster_by: Z-ORDER the rewrite (Delta OPTIMIZE ZORDER analog).
        Every bucket is rewritten (re-clustering is the point, so the
        already-compact skip does not apply) with rows ordered by the
        Morton interleave of the named numeric columns
        (functions.scalar.zorder_key; min/max come from one small agg
        over the rewritten rows). Row-group min/max stats then stay
        tight on EVERY clustered column, so range filters on any of
        them skip row groups — where the default key-sort only serves
        key lookups. The resolved row SET is unchanged either way.
        row_group_bytes caps parquet row-group size (finer stats
        granularity; also the knob the clustering tests pin)."""
        snap = self.snapshot()
        fold_groups = {
            g for g, fl in _side_maps(snap)["d"].items() if len(fl) >= min_delta_files
        }
        if fold_groups:
            self._fold_deltas_zx(spark, fold_groups)
            snap = self.snapshot()
        files = _side_maps(snap)["b"]
        to_rewrite = {
            b: fl for b, fl in files.items()
            if cluster_by is not None or len(fl) > target_files_per_bucket
        }
        if not to_rewrite:
            return snap["version"]
        all_small = [f for fl in to_rewrite.values() for f in fl]
        df = self._read_stored(spark, snap, all_small, "b")
        out = df.withColumns(self._group_cols(snap))
        sort_expr = None
        if cluster_by is not None:
            from ..functions.scalar import zorder_key

            schema = T.StructType.fromJson(json.loads(snap["schema"]))
            known = {f.name for f in schema.fields}
            unknown = set(cluster_by) - known
            if unknown:
                raise ValueError(f"unknown cluster_by columns: {sorted(unknown)}")
            # one tiny agg job for the normalization ranges
            aggs = []
            for c in cluster_by:
                aggs.append(F.min(F.col(c).cast("long")).alias(f"mn_{c}"))
                aggs.append(F.max(F.col(c).cast("long")).alias(f"mx_{c}"))
            r = df.agg(*aggs).collect()[0]
            mins = [r[f"mn_{c}"] if r[f"mn_{c}"] is not None else 0
                    for c in cluster_by]
            maxs = [r[f"mx_{c}"] if r[f"mx_{c}"] is not None else 0
                    for c in cluster_by]
            sort_expr = zorder_key(cluster_by, mins, maxs, bits=cluster_bits)
        # one task per bucket: coalesce within the bucket, no global
        # shuffle; key-sorted (or z-ordered) rows give tight row-group
        # stats for skip-scans
        new_files = self._write_buckets(
            out, snap, sort_within=True,
            sort_expr=sort_expr, row_group_bytes=row_group_bytes,
        )
        for b in to_rewrite:
            files.pop(b, None)
        for b, fl in new_files.items():
            files[b] = fl
        # bin-pack preserves rows per bucket, but buckets whose lineage
        # was never recorded (e.g. written before row_counts existed)
        # get it backfilled here from the fresh files' parquet footers
        row_counts = dict(snap.get("row_counts", {}))
        row_counts.update(_rows_per_bucket(new_files))
        # unfolded deltas and the tombstones carry forward
        new = _next_snapshot(
            snap,
            {
                "operation": "compact",
                "rewritten_buckets": [
                    _group_label(g) for g in sorted(to_rewrite, key=_split_group)
                ],
                "files_before": len(all_small),
                "files_after": sum(len(fl) for fl in new_files.values()),
                **(
                    {"clustered_by": list(cluster_by)}
                    if cluster_by is not None
                    else {}
                ),
            },
            files=files,
            row_counts=row_counts,
        )
        self._commit(new)
        return new["version"]

    @staticmethod
    def _snap_files(snap: dict) -> set[str]:
        return {f for *_g, f in snapshot_files(snap)}

    def rebucket(self, spark: SparkSession, new_num_buckets: int) -> int:
        """Bucket-count evolution (Iceberg partition-spec evolution
        analog for the hash layout): rewrite base, tombstone AND delta
        files into ``new_num_buckets`` and commit a snapshot whose
        layout every subsequent merge / bucketed WAL / zero-exchange
        path uses. The bucket count is otherwise fixed at create —
        at 10^10-row scale the table outgrows it (per-bucket files get
        huge, parallelism caps at num_buckets), so growth must be an
        OPERATION, not a new table.

        The resolved row set is bit-identical before and after: every
        stored artifact (payload, __lsn, tie-break, delta __op) is
        carried verbatim (a legacy file's limbs as their XOR, the one
        _tb) — only file placement changes. Three
        rewrite passes, each ONE key-hash shuffle at the new count,
        sorted within buckets for compact()'s tight row-group key
        clustering.
        Cost model is a full-table rewrite (compact-everything), which
        is why it is maintenance, not steady-state.

        Readers racing the commit keep working: they pinned their
        snapshot version (and its num_buckets) at read start, and old
        files stay on disk until vacuum(). Concurrent WRITERS conflict
        via the ordinary versioned-commit CAS; a pre-rebucket
        bucketed WAL then fails loudly against the new spec (bucket-id
        bound or validate_layout), never silently misplaces rows."""
        snap = self.snapshot()
        if new_num_buckets < 1:
            raise ValueError("new_num_buckets must be >= 1")
        if new_num_buckets == snap["num_buckets"]:
            return snap["version"]
        nsnap = {**snap, "num_buckets": new_num_buckets}
        gcols = self._group_cols(nsnap)

        def rewrite(side: str, files_map: dict) -> dict[str, list[str]]:
            flist = [f for fl in files_map.values() for f in fl]
            if not flist:
                return {}
            df = self._read_stored(spark, snap, flist, side).withColumns(gcols)
            return self._write_buckets(df, nsnap, sort_within=True)

        out = {side: rewrite(side, m) for side, m in _side_maps(snap).items()}
        new = _next_snapshot(
            snap,
            {
                "operation": "rebucket",
                "from_buckets": snap["num_buckets"],
                "to_buckets": new_num_buckets,
            },
            num_buckets=new_num_buckets,
            files=out["b"],
            deltas=out["d"],
            tombstones=out["t"],
            row_counts=_rows_per_bucket(out["b"]),
        )
        self._commit(new)
        return new["version"]

    def vacuum(self, keep_last: int = 1, orphan_grace_seconds: float = 86400.0) -> int:
        """GC data files not referenced by the newest ``keep_last``
        snapshots (Iceberg expire_snapshots analog). Returns the number
        of files deleted. Time travel to expired versions stops
        working, exactly like Iceberg.

        Two classes of dead files, handled differently:
        - files referenced by an EXPIRED snapshot and by no kept one:
          provably dead (snapshot lineage says so) — removed immediately;
        - files referenced by NO snapshot at all: may belong to an
          in-flight (not-yet-committed) merge/compact writer, so they are
          only removed once older than ``orphan_grace_seconds`` (Iceberg's
          remove_orphan_files older-than threshold). Deleting them
          eagerly would corrupt the concurrent writer's commit.
        """
        import time

        history = self.history()
        # anchor the kept window at CURRENT, not at the newest manifest
        # file: a crashed committer's orphan snapshot (manifest written,
        # pointer never swung) may sit BEYOND the pointer, and counting
        # it against keep_last would expire the snapshot live readers
        # are actually on (review finding). Snapshots past CURRENT are
        # always kept — versioned_commit rolls them forward later.
        current = self.current_version()
        settled = [s for s in history if s["version"] <= current]
        ahead = [s for s in history if s["version"] > current]
        keep = settled[-keep_last:] + ahead
        expired = settled[:-keep_last]  # may be empty: orphan GC still runs
        live: set[str] = set()
        for snap in keep:
            live.update(self._snap_files(snap))
        # files referenced by an open write-audit-publish stage are live
        # until the stage is explicitly published or aborted — a crashed
        # stage must survive vacuum so the session can re-attach to it
        for staged in staged_manifests(self.meta_dir):
            live.update(self._snap_files(staged))
        dead: set[str] = set()
        for snap in expired:
            dead.update(self._snap_files(snap))
        dead -= live
        removed = 0
        now = time.time()
        for root, _dirs, fnames in os.walk(self.data_dir):
            for fname in fnames:
                if not fname.endswith(".parquet"):
                    continue
                p = os.path.join(root, fname)
                if p in live:
                    continue
                if p not in dead:
                    # unreferenced orphan — possibly an in-flight write;
                    # only collect past the grace window
                    try:
                        if now - os.path.getmtime(p) < orphan_grace_seconds:
                            continue
                    except OSError:
                        continue
                try:
                    os.remove(p)
                    removed += 1
                except FileNotFoundError:
                    pass
        # sweep write-dir debris: Spark sidecars (_SUCCESS, .crc) and the
        # emptied w-/p-/d-/t- directories accumulate unboundedly across
        # merge/compact/expire cycles otherwise. A dir is debris only if
        # it holds NO live parquet anywhere below it and is past the same
        # grace window (an in-flight writer's dir contains fresh files).
        for root, dirs, fnames in os.walk(self.data_dir, topdown=False):
            if root == self.data_dir:
                continue
            live_below = any(
                f.endswith(".parquet")
                for _r, _d, fl in os.walk(root)
                for f in fl
            )
            if live_below:
                continue
            try:
                if now - os.path.getmtime(root) < orphan_grace_seconds:
                    continue
            except OSError:
                continue
            for fname in fnames:  # _SUCCESS, .*.crc, _committed_*
                try:
                    os.remove(os.path.join(root, fname))
                except OSError:
                    pass
            try:
                os.rmdir(root)  # fails (kept) if a concurrent writer added files
            except OSError:
                pass
        # sweep registration dirs under _bucketed/: a copy-on-write
        # merge drops its own, even when it aborts, so one left by a
        # crash is dead weight; the read and changelog registrations
        # (_kept_registration) stay for their lazy frames and are
        # collected here once no read has refreshed them within the
        # grace window (links only — removing them never touches the
        # snapshot's own file paths), together with the catalog entries
        # the active session holds for them.
        breg = os.path.join(self.path, "_bucketed")
        if os.path.isdir(breg):
            import shutil as _shutil

            swept = []
            for entry in os.listdir(breg):
                p = os.path.join(breg, entry)
                try:
                    if now - os.path.getmtime(p) >= orphan_grace_seconds:
                        _shutil.rmtree(p, ignore_errors=True)
                        swept.append(p)
                except OSError:
                    pass
            self._drop_registrations(swept)
        # expire old snapshot manifests too (never the orphans past
        # CURRENT — they roll forward at the next commit)
        self._chain.expire(s["version"] for s in expired)
        return removed

    @classmethod
    def _drop_registrations(cls, reg_roots: list[str]) -> None:
        """Drop the active session's catalog tables of the kept
        registration dirs ``reg_roots`` (_reg_prefix; no session in this
        process: nothing to drop)."""
        from pyspark.errors import PySparkRuntimeError

        if not reg_roots:
            return
        try:
            spark = SparkSession.active()
        except PySparkRuntimeError:
            return
        prefixes = tuple(cls._reg_prefix(p) + "_" for p in reg_roots)
        for r in spark.sql("SHOW TABLES LIKE 'zxr_*'").collect():
            if not r["isTemporary"] and r["tableName"].startswith(prefixes):
                spark.sql(f"DROP TABLE IF EXISTS `{r['tableName']}`")

    def expire_tombstones(
        self,
        spark: SparkSession,
        below_lsn: int | None = None,
        offsets=None,
    ) -> int:
        """Drop tombstone rows with _lsn < below_lsn (rewriting the
        surviving ones per bucket). Returns tombstone rows removed.

        SAFETY CONTRACT (now ENFORCED, not just documented): below_lsn
        must not exceed committed-offset-watermark + 1. Events with lsn
        at or below the watermark can never be re-delivered through
        CdcRunner (their windows are manifest-committed no-ops), so
        their tombstones are dead weight; expiring above the watermark
        would re-open the resurrection window the tombstones exist to
        close. Pass the OffsetLog as ``offsets`` and the bound is taken
        (or clamped) from its last_lsn(); passing a bare below_lsn with
        no offsets is allowed for tables not driven by a CdcRunner.
        This is the analog of Iceberg's delete-file compaction against
        the sequence-number horizon.
        """
        if offsets is not None:
            safe = offsets.last_lsn() + 1
            below_lsn = safe if below_lsn is None else min(below_lsn, safe)
        if below_lsn is None:
            raise ValueError("expire_tombstones needs below_lsn or offsets")
        snap = self.snapshot()
        tombs = [f for side, *_g, f in snapshot_files(snap) if side == "t"]
        if not tombs:
            return 0
        df = self._read_stored(spark, snap, tombs, "t")
        removed = df.filter(F.col(LSN_COL) < below_lsn).count()
        if removed == 0:
            return 0
        survivors = df.filter(F.col(LSN_COL) >= below_lsn).withColumns(
            self._group_cols(snap)
        )
        new_tombs = self._write_buckets(survivors, snap, prefix="t")
        self._commit(
            _next_snapshot(
                snap,
                {
                    "operation": "expire-tombstones",
                    "below_lsn": below_lsn,
                    "removed": removed,
                },
                tombstones=new_tombs,
            )
        )
        return removed
