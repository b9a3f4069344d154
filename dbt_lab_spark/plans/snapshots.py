"""Append-only snapshot log with time-travel reads — the
lakehouse-lite table format the engine's CDC (plans/incremental.py),
diff (operators/dml.dataset_diff) and matview (plans/matview.py)
pieces compose against.

Layout (one directory per table; VERDICT r8 #1/#2 — segmented log +
checkpoints + manifest sidecars):

    <root>/
      _log/
        00000000.json ...        # ONE immutable record file per version
        _ckpt_00000010.json ...  # folded table state every N commits
      _manifests/
        v00001_delta.parquet ... # per-directory file manifests (min/max
                                 # stats, Bloom filters, ANN cluster sets)
      v00000_full/ ...           # immutable parquet snapshot directories
      _vacuum.lock               # transient: held while vacuum runs

Every commit writes a NEW immutable directory, its manifest sidecar,
and then PUBLISHES exactly one new record file: creating
`_log/{N}.json` conditionally (create-if-absent) IS the commit — the
atomic claim and the record are the same object, so two interleaved
committers can never drop each other's record and a crashed committer
can never leave a claimed-but-unpublished slot.  Records are DELTAS
(files added/removed, changed metadata keys only), so commit bytes
are O(delta), not O(history x files); readers resolve a version by
loading the nearest checkpoint at-or-below it and folding the (at
most CHECKPOINT_EVERY) newer records — O(checkpoint + tail), never
O(history).  `append` commits base ∪ batch as a new version WITHOUT
rewriting old data files — the manifest-reuse idea object-store table
formats are built on (the reference's analog: the persisted catalogue
+ statistics, minidbs-testdata/resources/catalogue.xml).

Per-FILE pruning metadata (min/max zone maps, Bloom filters, ANN
cluster sets) never rides the log: each snapshot directory's manifest
is one immutable parquet sidecar under `_manifests/`, written once at
commit and read lazily (and, above PRUNE_DISTRIBUTED_MIN_FILES,
evaluated DISTRIBUTED by Spark executors) — the log record stays
independent of the number of data files.

All log/claim/lock I/O goes through a CommitProtocol whose one
primitive is conditional create (put_if_absent).  The default
LocalCommitProtocol implements it with hard links (atomic on every
local/NFS filesystem); an object-store deployment supplies the same
primitive as a conditional PUT (If-None-Match) — the OCC semantics are
proven against both backends in tests/test_wave39.py.

100 TB posture: data is never copied on commit; a commit publishes
O(delta) bytes; a head read folds one checkpoint + a bounded tail;
file-level pruning reads parquet sidecars, not the log; time-travel
reads are `spark.read.parquet(*files)` over the recorded file set —
partition pruning and predicate pushdown apply unchanged.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time

from pyspark.sql import DataFrame, SparkSession


class ConcurrentWriteError(RuntimeError):
    """Another writer committed between this operation's snapshot of
    the table and its commit attempt — the optimistic-concurrency
    conflict.  Content-dependent DML (merge, delete_where, compact,
    evolve, constraints, rollback) aborts with this error; append-only
    commits rebase and retry internally and never surface it."""


class StaleCommitMarkerError(ConcurrentWriteError):
    """A coordination file (today: the vacuum lock) is held but its
    owner never finished — a crashed process.  Not retryable: recovery
    is deleting the named file.  (Commit markers themselves can no
    longer go stale: since VERDICT r8 #1 the atomic creation of the
    per-version record file IS the commit, so a crashed committer
    either published or left nothing.)"""


class CommitProtocol:
    """The seam between the snapshot log and its storage (VERDICT r8
    #3).  The log's entire concurrency story rests on ONE primitive:
    `put_if_absent` — atomically create a key with content, failing if
    it exists.  Everything else (read/list/delete/stat) is plain
    object I/O.  Local filesystems provide the primitive via hard
    links; object stores via conditional PUT (S3 If-None-Match, GCS
    x-goog-if-generation-match: 0, Azure If-None-Match: *) — the OCC
    test matrix (tests/test_wave39.py) runs the same racing-writer
    pins against both this local backend and the in-memory
    conditional-PUT fake to prove no POSIX semantics leak in."""

    token: str  # cache identity: protocols sharing a store share it

    def put_if_absent(self, key: str, data: bytes) -> bool:
        raise NotImplementedError

    def put(self, key: str, data: bytes) -> None:
        raise NotImplementedError

    def read(self, key: str) -> bytes:
        raise NotImplementedError

    def exists(self, key: str) -> bool:
        raise NotImplementedError

    def delete(self, key: str) -> None:
        raise NotImplementedError

    def list(self, prefix: str) -> list[str]:
        raise NotImplementedError

    def stat(self, key: str) -> tuple | None:
        """(mtime_seconds, size) or None — cache identity + age."""
        raise NotImplementedError


class LocalCommitProtocol(CommitProtocol):
    """Keys are paths relative to the table root.  put_if_absent
    writes a private temp file then `os.link`s it to the target — the
    link is atomic create-if-absent WITH content on every local/NFS
    filesystem (unlike os.replace, which is last-writer-wins, and
    unlike O_CREAT|O_EXCL + write, which exposes a half-written file
    to concurrent readers)."""

    def __init__(self, root: str) -> None:
        self.root = root
        self.token = f"local:{root}"

    def _p(self, key: str) -> str:
        return os.path.join(self.root, key)

    def put_if_absent(self, key: str, data: bytes) -> bool:
        dst = self._p(key)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        tmp = f"{dst}.tmp.{os.getpid()}.{threading.get_ident()}"
        with open(tmp, "wb") as fh:
            fh.write(data)
        try:
            os.link(tmp, dst)
            return True
        except FileExistsError:
            return False
        finally:
            try:
                os.unlink(tmp)
            except OSError:
                pass

    def put(self, key: str, data: bytes) -> None:
        dst = self._p(key)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        tmp = f"{dst}.tmp.{os.getpid()}.{threading.get_ident()}"
        with open(tmp, "wb") as fh:
            fh.write(data)
        os.replace(tmp, dst)

    def read(self, key: str) -> bytes:
        with open(self._p(key), "rb") as fh:
            return fh.read()

    def exists(self, key: str) -> bool:
        return os.path.exists(self._p(key))

    def delete(self, key: str) -> None:
        try:
            os.unlink(self._p(key))
        except FileNotFoundError:
            pass

    def list(self, prefix: str) -> list[str]:
        d = self._p(prefix) if prefix else self.root
        if not os.path.isdir(d):
            return []
        names = [n for n in os.listdir(d) if not n.endswith("~")]
        return sorted(
            os.path.join(prefix, n) if prefix else n for n in names
        )

    def stat(self, key: str) -> tuple | None:
        try:
            st = os.stat(self._p(key))
        except FileNotFoundError:
            return None
        return (st.st_mtime, st.st_size)  # seconds: ages compare
        # uniformly across protocol backends


class InMemoryCommitProtocol(CommitProtocol):
    """Conditional-PUT fake of an object store: a locked dict, NO
    POSIX primitives anywhere.  put_if_absent is the store-side
    compare-and-set an S3-style backend provides as a conditional
    PUT.  Used by the OCC test matrix to prove the snapshot log's
    concurrency semantics hold without exclusive-create files."""

    _SEQ = [0]

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._store: dict[str, tuple[bytes, float]] = {}
        InMemoryCommitProtocol._SEQ[0] += 1
        self.token = f"mem:{InMemoryCommitProtocol._SEQ[0]}"

    def put_if_absent(self, key: str, data: bytes) -> bool:
        with self._lock:
            if key in self._store:
                return False
            self._store[key] = (bytes(data), time.time())
            return True

    def put(self, key: str, data: bytes) -> None:
        with self._lock:
            self._store[key] = (bytes(data), time.time())

    def read(self, key: str) -> bytes:
        with self._lock:
            if key not in self._store:
                raise FileNotFoundError(key)
            return self._store[key][0]

    def exists(self, key: str) -> bool:
        with self._lock:
            return key in self._store

    def delete(self, key: str) -> None:
        with self._lock:
            self._store.pop(key, None)

    def list(self, prefix: str) -> list[str]:
        with self._lock:
            if not prefix:
                return sorted(k for k in self._store if "/" not in k)
            p = prefix.rstrip("/") + "/"
            return sorted(k for k in self._store if k.startswith(p))

    def stat(self, key: str) -> tuple | None:
        with self._lock:
            e = self._store.get(key)
            return None if e is None else (e[1], len(e[0]))


_CACHE_LOCK = threading.Lock()


def _cache_put(cache: dict, key, value, cap: int) -> None:
    """Tiny bounded insert-order cache (all cached objects are
    immutable: record files, folded states, manifest sidecars).  The
    lock serializes eviction: two threads evicting concurrently could
    otherwise pop the same oldest key and crash the second (r9
    review)."""
    with _CACHE_LOCK:
        if key in cache:
            return
        while len(cache) >= cap:
            cache.pop(next(iter(cache)), None)
        cache[key] = value


_SEG_CACHE: dict = {}      # (token, version, stat) -> record dict
_STATE_CACHE: dict = {}    # (token, version, stat-of-seg) -> folded state
_MANIFEST_CACHE: dict = {}  # (path, stat) -> parsed manifest dict

_MISSING = object()


def head_record_stamp(root: str) -> tuple[int, int, int] | None:
    """(version, size, mtime_ns) of the head log record of the local
    SnapshotTable at `root` (None: no committed log) — one `_log/`
    listing and one stat that every commit, and every re-creation of
    the table at the same root, moves."""
    log = os.path.join(root, "_log")
    try:
        names = [n[:-5] for n in os.listdir(log) if n.endswith(".json")]
        v = max(int(n) for n in names if n.isdigit())
        st = os.stat(os.path.join(root, SnapshotTable._seg_key(v)))
    except (OSError, ValueError):
        return None
    return (v, st.st_size, st.st_mtime_ns)


def _file_stats(snapshot_dir: str, stat_cols: list[str]) -> dict[str, dict]:
    """Per-data-file min/max for `stat_cols`, read from parquet FOOTERS
    only (no data pages) — the data-skipping manifest entry."""
    import pyarrow.parquet as pq

    out: dict[str, dict] = {}
    for fn in sorted(os.listdir(snapshot_dir)):
        if not fn.endswith(".parquet") or fn.startswith(("_", ".")):
            continue
        p = os.path.join(snapshot_dir, fn)
        md = pq.ParquetFile(p).metadata
        cols = {md.schema.column(i).name: i for i in range(md.num_columns)}
        stats: dict[str, list] = {}
        for c in stat_cols:
            if c not in cols:
                continue
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                s = md.row_group(rg).column(cols[c]).statistics
                if s is None or not s.has_min_max:
                    mins, maxs = [], []
                    break
                try:
                    mins.append(s.min)
                    maxs.append(s.max)
                except Exception:
                    # pyarrow cannot extract min/max for every logical
                    # type (ArrowNotImplementedError, e.g. some decimal
                    # physical encodings) — record nothing for the
                    # column and let reads stay conservative
                    mins, maxs = [], []
                    break
            if mins:
                stats[c] = [min(mins), max(maxs)]
        out[p] = stats
    return out


def _dir_num_rows(d: str) -> int:
    """Row count of a parquet directory from FOOTERS only — no Spark
    job, no data pages.  Replaces `spark.read.parquet(d).count()` for
    just-written directories: at any scale the count of a write we
    performed ourselves is O(#files) footer metadata, never a scan.

    LOCAL-FS ONLY (ADVICE r10 #3): walks the directory with os.listdir,
    like every other path operation in LocalCommitProtocol-backed
    tables.  An object-store port must swap these helpers for
    filesystem-API equivalents alongside the protocol."""
    import pyarrow.parquet as pq

    n = 0
    for fn in sorted(os.listdir(d)):
        if fn.endswith(".parquet") and not fn.startswith(("_", ".")):
            n += pq.ParquetFile(os.path.join(d, fn)).metadata.num_rows
    return n


def _all_nullable(dt):
    """The type with every nesting level forced nullable — what JVM
    parquet schema inference reports regardless of footer required/
    optional flags."""
    from pyspark.sql import types as T

    if isinstance(dt, T.StructType):
        return T.StructType(
            [
                T.StructField(f.name, _all_nullable(f.dataType), True)
                for f in dt.fields
            ]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_all_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(
            _all_nullable(dt.keyType), _all_nullable(dt.valueType), True
        )
    return dt


def _first_footer_file(paths) -> str | None:
    """The first parquet data file under `paths` (directories or
    files), in listing order — the one footer the driver-side schema
    helpers read; None when there is none."""
    for p in paths:
        if os.path.isdir(p):
            for fn in sorted(os.listdir(p)):
                if fn.endswith(".parquet") and not fn.startswith(("_", ".")):
                    return os.path.join(p, fn)
        elif p.endswith(".parquet"):
            return p
    return None


def _footer_spark_schema(paths):
    """Spark StructType of the FIRST parquet footer under `paths`
    (directories or files), derived DRIVER-side via pyarrow — skipping
    the JVM schema-inference pass, which costs a footer-reading Spark
    job per `spark.read.parquet()` call (~150-200 ms here) and at
    scale lists+reads footers across the whole file set.  Returns None
    whenever the footer cannot be mapped 1:1 to what JVM inference
    would report (INT96 timestamps decode tz-naive through Arrow but
    TimestampType through Spark; any arrow->Spark conversion surprise)
    so callers can fall back to inference — never guess."""
    import pyarrow.parquet as pq

    f = _first_footer_file(paths)
    if f is None:
        return None
    try:
        import pyarrow as pa

        pf = pq.ParquetFile(f)
        phys = pf.metadata.schema
        for i in range(len(phys)):
            if phys.column(i).physical_type == "INT96":
                return None

        def has_ntz_ts(t) -> bool:
            # ADVICE r10 #1: a tz-naive (isAdjustedToUTC=false) parquet
            # timestamp maps to TimestampType via from_arrow_schema
            # (prefer_timestamp_ntz defaults False) but JVM inference
            # on Spark 3.4+ reports TimestampNTZType — a silent
            # session-timezone value shift.  Bail to inference.
            if isinstance(t, pa.TimestampType):
                return t.tz is None
            if isinstance(t, (pa.ListType, pa.LargeListType, pa.FixedSizeListType)):
                return has_ntz_ts(t.value_type)
            if pa.types.is_struct(t):
                return any(has_ntz_ts(t.field(i).type) for i in range(t.num_fields))
            if pa.types.is_map(t):
                return has_ntz_ts(t.key_type) or has_ntz_ts(t.item_type)
            return False

        if any(has_ntz_ts(field.type) for field in pf.schema_arrow):
            return None
        from pyspark.sql.pandas.types import from_arrow_schema

        return _all_nullable(from_arrow_schema(pf.schema_arrow))
    except Exception:
        return None


def _read_pq(spark: SparkSession, paths, schema=None) -> DataFrame:
    """`spark.read.parquet(*paths)` with the JVM schema-inference pass
    skipped whenever the schema is already known (recorded in the
    snapshot log) or derivable driver-side from one footer
    (`_footer_spark_schema`).  Inference costs a footer-reading Spark
    job PER READ CALL and at 100 TB lists and footer-reads the whole
    file set — schema-in-the-log is exactly what the object-store
    table formats carry manifests for."""
    if isinstance(paths, str):
        paths = [paths]
    if schema is None:
        schema = _footer_spark_schema(paths)
    elif not _schema_matches_footer(paths, schema):
        # ADVICE r10 #2: an explicit schema makes Spark silently
        # NULL-fill missing columns, so drift between a log-recorded
        # schema and the actual files (stale/corrupt log record) would
        # yield nulls instead of a visible mismatch.  One driver-side
        # footer name check (O(1) per read, not O(files)); on mismatch
        # fall back to inference so the drift surfaces downstream.
        schema = None
    reader = spark.read.schema(schema) if schema is not None else spark.read
    return reader.parquet(*paths)


def _schema_matches_footer(paths, schema) -> bool:
    """True when one footer's top-level column names equal the supplied
    schema's (as sets — parquet physical order is not significant to
    Spark's by-name resolution).  Unreadable/absent footers return True
    (nothing to validate against; the read itself will surface I/O
    errors)."""
    import pyarrow.parquet as pq

    try:
        f = _first_footer_file(paths)
        if f is None:
            return True
        names = set(pq.ParquetFile(f).schema_arrow.names)
    except Exception:
        return True
    return names == {fld.name for fld in schema.fields}


def _ts_canon(v):
    """Canonical NAIVE-UTC form of a datetime.  Parquet footers record
    Spark TimestampType stats as UTC-adjusted instants (pyarrow hands
    back tz-AWARE datetimes) while a caller's `between=` probe is
    normally naive session-clock time — the engine pins
    spark.sql.session.timeZone=UTC (session.py:47), so naive == UTC
    wall time and stripping the offset after converting to UTC makes
    the two comparable.  Without this every aware-vs-naive comparison
    TypeErrors into keep-everything and timestamp data skipping is
    silently a no-op (r9 review #3 / VERDICT r9 "What's wrong" #3) —
    at 100 TB that's a full scan on exactly the event-time columns
    pruning exists for."""
    import datetime

    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        return v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    return v


def _stat_enc(v):
    """JSON-safe encoding of a parquet footer min/max value.  Dates,
    timestamps, Decimals and bytes — the canonical data-skipping
    column types — come out of the footer as Python objects json can't
    serialize (r9 review: a DateType stat_col used to fail every
    commit); tag them so _stat_dec restores COMPARABLE objects at
    prune time.  Timestamps are canonicalized to naive UTC BEFORE
    encoding (see _ts_canon) so recorded stats compare cleanly with
    naive probes."""
    import datetime
    import decimal

    if isinstance(v, datetime.datetime):
        return {"__t": "dt", "v": _ts_canon(v).isoformat()}
    if isinstance(v, datetime.date):
        return {"__t": "d", "v": v.isoformat()}
    if isinstance(v, decimal.Decimal):
        return {"__t": "dec", "v": str(v)}
    if isinstance(v, (bytes, bytearray)):
        return {"__t": "b", "v": bytes(v).hex()}
    return v


def _stat_dec(v):
    if isinstance(v, dict) and "__t" in v:
        import datetime
        import decimal

        t, s = v["__t"], v["v"]
        if t == "dt":
            # _ts_canon also here: sidecars written before the r10
            # canonicalization carry aware isoformats — normalize on
            # decode so old manifests prune too
            return _ts_canon(datetime.datetime.fromisoformat(s))
        if t == "d":
            return datetime.date.fromisoformat(s)
        if t == "dec":
            return decimal.Decimal(s)
        if t == "b":
            return bytes.fromhex(s)
    return v


def _minmax_excludes(entry, lo, hi) -> bool:
    """True when the [min, max] entry PROVES the file holds nothing in
    [lo, hi].  Incomparable types (a string probe on an int column)
    keep the file — pruning is an optimization, never a correctness
    dependency.  Timestamp probes/stats are canonicalized to naive
    UTC upstream (_ts_canon) so they actually compare."""
    try:
        return entry[1] < lo or entry[0] > hi
    except TypeError:
        return False


_BLOOM_K = 7  # hash functions per filter (near-optimal at 10 bits/key)


def _bloom_repr(v) -> str:
    """One canonical string per value for bloom hashing — type-tagged
    so 1 (int) and '1' (string) never collide, and stable across the
    write (pandas/numpy scalars) and lookup (plain Python) sides."""
    import numpy as np

    if isinstance(v, (bool, np.bool_)):
        return f"b:{bool(v)}"
    if isinstance(v, (int, np.integer)):
        return f"i:{int(v)}"
    if isinstance(v, (float, np.floating)):
        return f"f:{float(v)!r}"
    if isinstance(v, (bytes, bytearray)):
        return "y:" + bytes(v).hex()
    return "s:" + str(v)


def _splitmix64(x):
    """Vectorizable 64-bit finalizer (splitmix64) — deterministic
    across processes, unlike Python's seeded str hash."""
    import numpy as np

    x = x.astype(np.uint64, copy=True)
    x += np.uint64(0x9E3779B97F4A7C15)
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def _bloom_canon(v):
    """Canonicalize integral floats to ints BEFORE hashing, on both the
    build and lookup sides.  Arrow->pandas turns a nullable int64
    column into float64, so without this the build would hash 1.0 via
    the float repr while read(point=(col, 1)) hashes via the int path —
    a definitive-False that silently prunes files holding matching rows
    (ADVICE r7, high).  Also makes probing an int column with an equal
    float (and vice versa) agree."""
    import numpy as np

    if (
        isinstance(v, (float, np.floating))
        and not isinstance(v, bool)
        and float(v).is_integer()
    ):
        return int(v)
    return v


def _bloom_hash_pair(v) -> tuple[int, int]:
    """Two independent 64-bit hashes (Kirsch–Mitzenmacher double
    hashing derives all k probe positions from the pair).  Integers
    take the vectorizable splitmix path — matching _bloom_build's bulk
    hashing exactly — everything else hashes its canonical repr."""
    import hashlib

    import numpy as np

    v = _bloom_canon(v)
    if isinstance(v, (int, np.integer)) and not isinstance(v, bool):
        x = np.array([np.uint64(int(v) & 0xFFFFFFFFFFFFFFFF)])
        h1 = int(_splitmix64(x)[0])
        h2 = int(_splitmix64(x ^ np.uint64(0xA5A5A5A5A5A5A5A5))[0]) | 1
        return h1, h2
    h = hashlib.blake2b(_bloom_repr(v).encode(), digest_size=16).digest()
    return int.from_bytes(h[:8], "little"), int.from_bytes(h[8:], "little") | 1


def _bloom_build(values, bits_per_key: int = 10) -> tuple[int, int, str]:
    """Build one bloom bitmap over `values`; returns (m_bits, k,
    base64(bitmap)).  m is a power of two in [2^10, 2^23].  All-integer
    inputs (the doc_id/url-hash case the feature exists for) hash fully
    vectorized in NumPy; mixed/other types fall back per value."""
    import base64

    import numpy as np

    n = max(1, len(values))
    m = 1 << min(23, max(10, (n * bits_per_key - 1).bit_length()))
    bits = np.zeros(m >> 3, dtype=np.uint8)
    vals = [
        _bloom_canon(v)
        for v in values
        if v is not None and not (isinstance(v, float) and v != v)
    ]
    ints = all(
        isinstance(v, (int, np.integer)) and not isinstance(v, bool)
        for v in vals
    )
    if vals and ints:
        x = np.array([int(v) & 0xFFFFFFFFFFFFFFFF for v in vals], dtype=np.uint64)
        h1 = _splitmix64(x)
        h2 = _splitmix64(x ^ np.uint64(0xA5A5A5A5A5A5A5A5)) | np.uint64(1)
        mm = np.uint64(m)
        for i in range(_BLOOM_K):
            idx = ((h1 + np.uint64(i) * h2) % mm).astype(np.int64)
            np.bitwise_or.at(
                bits, idx >> 3, (1 << (idx & 7)).astype(np.uint8)
            )
    else:
        for v in vals:
            h1, h2 = _bloom_hash_pair(v)
            for i in range(_BLOOM_K):
                idx = (h1 + i * h2) % m
                bits[idx >> 3] |= 1 << (idx & 7)
    return m, _BLOOM_K, base64.b64encode(bits.tobytes()).decode()


def _bloom_maybe_contains(entry: dict, v) -> bool:
    """False = definitely absent (prune the file); True = maybe."""
    import base64

    m, k = int(entry["m"]), int(entry["k"])
    bits = base64.b64decode(entry["b"])
    h1, h2 = _bloom_hash_pair(v)
    for i in range(k):
        idx = (h1 + i * h2) % m
        if not (bits[idx >> 3] >> (idx & 7)) & 1:
            return False
    return True


def _sql_literal_spans(expr: str) -> list[tuple[bool, str]]:
    """Split a SQL expression into (is_literal, chunk) pieces, where
    literal chunks are single-quoted spans ('' escapes included) kept
    verbatim — so identifier matching/rewriting never touches string
    DATA (ADVICE r7: evolve's \\b-regex spuriously matched column
    names inside literals)."""
    parts: list[tuple[bool, str]] = []
    buf: list[str] = []
    i, n = 0, len(expr)
    while i < n:
        if expr[i] == "'":
            j = i + 1
            while j < n:
                if expr[j] == "'":
                    if j + 1 < n and expr[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            if buf:
                parts.append((False, "".join(buf)))
                buf = []
            parts.append((True, expr[i:min(j + 1, n)]))
            i = j + 1
        else:
            buf.append(expr[i])
            i += 1
    if buf:
        parts.append((False, "".join(buf)))
    return parts


class SnapshotTable:
    """Versioned parquet table: `commit` (full replace), `append`
    (delta commit), `read(version=)` (time travel), `versions()`,
    `rollback(version)` (a new commit pointing at old files — history
    is never destroyed).

    Pass `stat_cols=` to record per-file min/max in the manifest at
    every commit (footer reads only); `read(..., between=(col, lo,
    hi))` then PRUNES non-overlapping files from the scan before Spark
    sees them — manifest-based data skipping, the file-level
    complement to parquet's row-group zone maps.

    Commit path: every mutation stages, then publishes.  `_stage`
    reserves a directory (`_new_dir`), writes a DataFrame into it and
    its manifest sidecar (`_write_manifest`; a DV sidecar has none).
    `_publish` builds the record against the head the mutation read
    and publishes it (`_append_log`): content-dependent mutations CAS
    on that head, while the order-independent writers (commit, append,
    append_stream_batch) rebuild it against the live head and
    re-validate constraints added since.  Staged dirs live in a
    `_staging()` scope; leaving it removes every staged dir no
    published record references, so a mutation that raises, or
    publishes nothing, leaves no directory behind, and a published dir
    is never removed.  Carry-over (`_record`): a record inherits every
    non-empty parent metadata key except the per-commit `batch_id` and
    `renames`; the `dir_*` maps are derived from its file list and the
    staged dirs' schemas; a mutation sets only what it changes."""

    # read-side DV budget: accumulated DV rows above this flip the
    # merge-on-read apply from a broadcast anti-join to a shuffle
    # anti-join (~100 B/row of (path, idx) — 1M rows is ~100 MB, the
    # sane ceiling to ship to every executor; see SCALING.md §31)
    DV_BROADCAST_MAX_ROWS = 1_000_000

    def __init__(
        self,
        root: str,
        stat_cols: list[str] | None = None,
        bloom_cols: list[str] | None = None,
        ann_col: str | None = None,
        ann_lists: int = 16,
        ann_files: int = 8,
        ann_centroids: list[list[float]] | None = None,
        ann_id_col: str = "vec_id",
        protocol: CommitProtocol | None = None,
    ) -> None:
        # Canonicalize: merge/delete_where map Spark's ABSOLUTE
        # `_metadata.file_path` URIs back onto manifest paths by prefix;
        # a relative or symlinked root would make that mapping silently
        # miss every file (dropped updates / no-op deletes).
        self.root = os.path.realpath(os.path.abspath(root))
        self.stat_cols = list(stat_cols or [])
        # `bloom_cols=`: record a per-file Bloom filter for these
        # (high-cardinality, point-lookup) columns at every commit;
        # `read(point=("col", v))` then prunes files whose filter
        # rejects v — the point-lookup complement to min/max stats,
        # which never help on keys scattered across the value range.
        self.bloom_cols = list(bloom_cols or [])
        # `ann_col=`: maintain an IVF ANN index as table metadata — the
        # coarse quantizer is trained on the first commit (or passed in
        # via ann_centroids=), every commit/append clusters its batch by
        # assigned centroid and records a per-file cluster manifest, and
        # `knn()` reads only the probed lists' files (plans/ann.py).
        self.ann_col = ann_col
        self.ann_lists = int(ann_lists)
        self.ann_files = int(ann_files)
        self.ann_centroids = ann_centroids
        self.ann_id_col = ann_id_col
        os.makedirs(self.root, exist_ok=True)
        # CommitProtocol seam (VERDICT r8 #3): all log/claim/lock I/O
        # goes through it; pass an object-store implementation to run
        # the same table against conditional-PUT storage.
        self.protocol = protocol or LocalCommitProtocol(self.root)

    def _compose_renames(self, recs: list[dict]) -> dict[str, str]:
        """original-name -> current-name map composed over the evolve
        records in `recs` (each carries {old: new} for that evolve)."""
        cur: dict[str, str] = {}
        for r in recs:
            cur = self._compose_step(cur, r.get("renames") or {})
        return cur

    def _live_cols(self, cols: list[str]) -> list[str]:
        """Translate construction-time column names through the table's
        rename history so stat/bloom recording follows a rename instead
        of silently going dark (ADVICE r6: stale stat_cols)."""
        if not cols:
            return []
        head = self._head_state()
        ren = head[2] if head else {}
        return [ren.get(c, c) for c in cols]

    @staticmethod
    def _canon(p: str) -> str:
        """One canonical spelling for a local path: strip the file: URI
        scheme Spark's _metadata.file_path carries, then resolve
        symlinks and relative segments."""
        if p.startswith("file:"):
            p = p[len("file:"):]
        return os.path.realpath(os.path.abspath(p))

    def _owning_dirs(self, dirs: list[str], files) -> list[str]:
        """The directories among `dirs` that own any of the data-file
        paths `files`, both sides compared in their `_canon` spelling."""
        norm = {self._canon(f) for f in set(files)}
        out = []
        for d in dirs:
            prefix = self._canon(d) + os.sep
            if any(f.startswith(prefix) for f in norm):
                out.append(d)
        return out

    def _dv_files(self, dvs) -> set[str]:
        """The data files whose rows the DV sidecars `dvs` delete: one
        driver-side read of each sidecar's `f` column, O(deleted rows).
        A sidecar that no longer exists targets nothing."""
        import pyarrow.parquet as _pq

        files: set[str] = set()
        for dvd in dvs:
            for p in self._data_files(dvd):
                files.update(_pq.read_table(p, columns=["f"]).column("f").to_pylist())
        return files

    def _touched_dirs(self, head: dict, touched_files: list[str]) -> list[str]:
        """Map matched data-file paths to the snapshot directories that
        own them.  Raises instead of silently losing writes when files
        matched but none map back (the relative-root / symlink hazard —
        a no-op here would drop merge updates or skip deletes)."""
        touched = sorted(self._owning_dirs(head["files"], touched_files))
        if touched_files and not touched:
            raise RuntimeError(
                f"snapshot table {self.root}: {len(touched_files)} matched "
                "data files map to no manifest directory — path "
                "normalization mismatch (relative or symlinked root?)"
            )
        return touched

    # -- log v2: one immutable record per version + checkpoints ----------
    # (VERDICT r8 #1: commit cost O(delta), read cost O(ckpt + tail))

    # fold a full-state checkpoint every N commits so a reader loads
    # at most N record files past the nearest checkpoint
    CHECKPOINT_EVERY = 10

    # keys the fold machinery owns; everything else in a record is
    # metadata diffed against the parent
    _SEG_OWNED = ("version", "ts", "operation", "files")

    # metadata that belongs to one commit and is never carried over
    _PER_COMMIT = ("batch_id", "renames")

    # per-directory schema maps, derived for every record (_dir_meta)
    _DIR_KEYS = ("dir_columns", "dir_schema_json", "dir_logical_columns")

    @staticmethod
    def _seg_key(v: int) -> str:
        return f"_log/{v:08d}.json"

    @staticmethod
    def _ckpt_key(v: int) -> str:
        return f"_log/_ckpt_{v:08d}.json"

    _VACUUM_LOCK = "_vacuum.lock"

    def versions(self) -> list[int]:
        out = []
        for key in self.protocol.list("_log"):
            name = key.rsplit("/", 1)[-1]
            if name.endswith(".json") and name[:-5].isdigit():
                out.append(int(name[:-5]))
        return sorted(out)

    def _head_version(self) -> int:
        """Version number of the head record, -1 for an empty table.
        NOT a record count: vacuum truncates old records while version
        numbers keep counting up, so numbering must continue from the
        head, never restart."""
        vs = self.versions()
        return vs[-1] if vs else -1

    def _read_seg(self, v: int) -> dict:
        key = self._seg_key(v)
        st = self.protocol.stat(key)
        if st is None:
            raise ValueError(
                f"snapshot table {self.root}: no record for version {v} "
                "(never committed, or vacuumed away)"
            )
        ck = (self.protocol.token, v, st)
        hit = _SEG_CACHE.get(ck)
        if hit is None:
            hit = json.loads(self.protocol.read(key))
            _cache_put(_SEG_CACHE, ck, hit, 4096)
        return hit

    @staticmethod
    def _compose_step(cur: dict, ren: dict) -> dict:
        """One evolve's {old: new} composed onto the running
        original-name -> current-name map."""
        if not ren:
            return cur
        currents = set(cur.values())
        out = {orig: ren.get(c, c) for orig, c in cur.items()}
        for old, new in ren.items():
            if old not in currents:
                out[old] = new
        return out

    @staticmethod
    def _apply_seg(parent_rec: dict | None, seg: dict) -> dict:
        """Fold one delta record onto the parent's full state."""
        rec = (
            {}
            if parent_rec is None
            else {
                k: v
                for k, v in parent_rec.items()
                if k not in ("version", "ts")
            }
        )
        if "files" in seg:
            files = list(seg["files"])
        else:
            rm = set(seg.get("f_rm") or [])
            files = [d for d in rec.get("files", []) if d not in rm] + list(
                seg.get("f_add") or []
            )
        for k in seg.get("k_drop") or []:
            rec.pop(k, None)
        for k, v in (seg.get("k_set") or {}).items():
            rec[k] = v
        for k, p in (seg.get("k_patch") or {}).items():
            d = dict(rec.get(k) or {})
            for kk in p.get("drop") or []:
                d.pop(kk, None)
            d.update(p.get("set") or {})
            rec[k] = d
        rec["files"] = files
        rec["version"] = seg["v"]
        rec["ts"] = seg["ts"]
        rec["operation"] = seg["op"]
        return rec

    @classmethod
    def _make_seg(
        cls, parent_rec: dict | None, record: dict, n: int, ts: float
    ) -> dict:
        """Delta-encode a full commit record against its parent: file
        list as add/remove, metadata keys as set/patch/drop — commit
        bytes are O(what changed), never O(history x files).  A
        fold-predict check falls back to storing the full value for
        any key the delta would not reproduce exactly (defensive; the
        file-order invariant makes it unreachable in practice)."""
        record = json.loads(json.dumps(record))  # normalize to JSON types
        parent = parent_rec or {}
        seg: dict = {"v": n, "ts": ts, "op": record.get("operation", "")}
        pfiles = parent.get("files") or []
        nfiles = record.get("files") or []
        pset, nset = set(pfiles), set(nfiles)
        f_add = [d for d in nfiles if d not in pset]
        f_rm = [d for d in pfiles if d not in nset]
        pred = [d for d in pfiles if d in nset] + f_add
        if pred != nfiles:
            seg["files"] = nfiles
        else:
            if f_add:
                seg["f_add"] = f_add
            if f_rm:
                seg["f_rm"] = f_rm
        k_set: dict = {}
        k_patch: dict = {}
        for k, v in record.items():
            if k in cls._SEG_OWNED:
                continue
            pv = parent.get(k, _MISSING)
            if pv is _MISSING:
                k_set[k] = v
            elif pv == v:
                continue
            elif isinstance(pv, dict) and isinstance(v, dict):
                s = {
                    kk: vv
                    for kk, vv in v.items()
                    if pv.get(kk, _MISSING) != vv
                }
                dr = [kk for kk in pv if kk not in v]
                p: dict = {}
                if s:
                    p["set"] = s
                if dr:
                    p["drop"] = dr
                k_patch[k] = p
            else:
                k_set[k] = v
        k_drop = [
            k
            for k in parent
            if k not in record and k not in cls._SEG_OWNED
        ]
        if k_set:
            seg["k_set"] = k_set
        if k_patch:
            seg["k_patch"] = k_patch
        if k_drop:
            seg["k_drop"] = k_drop
        # fold-predict valve: the folded result must BE the record
        folded = cls._apply_seg(parent, seg)
        want = dict(record)
        want["version"], want["ts"], want["operation"] = n, ts, seg["op"]
        if folded != want:  # pragma: no cover — defensive only
            seg = {
                "v": n,
                "ts": ts,
                "op": seg["op"],
                "files": nfiles,
                "k_set": {
                    k: v for k, v in record.items() if k not in cls._SEG_OWNED
                },
                "k_drop": k_drop,
            }
        return seg

    def _fold(self, state: tuple | None, seg: dict) -> tuple:
        """state = (rec, batch_ids, renames_composed)."""
        rec = self._apply_seg(state[0] if state else None, seg)
        bids = set(state[1]) if state else set()
        if rec.get("batch_id") is not None:
            bids.add(rec["batch_id"])
        ren = self._compose_step(
            dict(state[2]) if state else {}, rec.get("renames") or {}
        )
        return (rec, bids, ren)

    def _load_ckpt(self, v: int) -> tuple | None:
        key = self._ckpt_key(v)
        st = self.protocol.stat(key)
        if st is None:
            return None
        ck = (self.protocol.token, "ckpt", v, st)
        hit = _STATE_CACHE.get(ck)
        if hit is None:
            p = json.loads(self.protocol.read(key))
            hit = (p["rec"], set(p["batch_ids"]), p["ren"])
            _cache_put(_STATE_CACHE, ck, hit, 256)
        return hit

    def _state_at(self, version: int) -> tuple:
        """Folded (rec, batch_ids, renames) at `version`: nearest
        checkpoint at-or-below, plus at most CHECKPOINT_EVERY record
        folds — never O(history)."""
        if version < 0:
            raise ValueError(f"snapshot table {self.root} has no commits")
        st = self.protocol.stat(self._seg_key(version))
        if st is None:
            raise ValueError(
                f"snapshot table {self.root}: no record for version "
                f"{version} (never committed, or vacuumed away)"
            )
        ck = (self.protocol.token, version, st)
        hit = _STATE_CACHE.get(ck)
        if hit is not None:
            return hit
        # walk down to the nearest reusable base: a cached folded
        # state, a checkpoint, or the table's first record
        base, base_v = None, -1
        v = version
        while v >= 0:
            if v < version:
                s = self.protocol.stat(self._seg_key(v))
                if s is not None:
                    h = _STATE_CACHE.get((self.protocol.token, v, s))
                    if h is not None:
                        base, base_v = h, v
                        break
            c = self._load_ckpt(v)
            if c is not None:
                base, base_v = c, v
                break
            if v < version and self.protocol.stat(self._seg_key(v)) is None:
                raise ValueError(
                    f"snapshot table {self.root}: history below version "
                    f"{version} is truncated (vacuumed) and no checkpoint "
                    "covers it"
                )
            v -= 1
        state = base
        for u in range(base_v + 1, version + 1):
            seg = self._read_seg(u)
            state = self._fold(state, seg)
            su = self.protocol.stat(self._seg_key(u))
            if su is not None:
                _cache_put(
                    _STATE_CACHE, (self.protocol.token, u, su), state, 256
                )
        return state

    def _head_state(self) -> tuple | None:
        hv = self._head_version()
        return self._state_at(hv) if hv >= 0 else None

    def _head(self, version: int | None = None) -> dict:
        """The head record (or the record at `version`); raises on a
        table with no commits."""
        hv = self._head_version()
        if hv < 0:
            raise ValueError(f"snapshot table {self.root} has no commits")
        return self._rec_at(hv if version is None else version)

    def _rec_at(self, version: int) -> dict:
        return self._state_at(version)[0]

    def _log(self) -> list[dict]:
        """Compatibility facade: the FULL folded record for every
        retained version, oldest first — the shape the r7 single-file
        log held.  Costs O(retained) folds (cached); hot paths use
        _head_state()/_state_at() instead."""
        return [self._state_at(v)[0] for v in self.versions()]

    def _batch_committed(self, batch_id) -> bool:
        """Has a stream batch with this id ever committed?  The fold
        carries the CUMULATIVE id set through checkpoints, so the
        exactly-once guarantee survives vacuum truncation (the r7 log
        forgot truncated batch ids)."""
        hv = self._head_version()
        return hv >= 0 and batch_id in self._state_at(hv)[1]

    def _write_ckpt(self, v: int) -> None:
        state = self._state_at(v)
        payload = {
            "rec": state[0],
            "batch_ids": sorted(state[1], key=repr),
            "ren": state[2],
        }
        self.protocol.put(
            self._ckpt_key(v), json.dumps(payload).encode()
        )

    # a vacuum lock OLDER than this is declared crashed; staleness is
    # judged by the LOCK's age, never by how long this waiter has been
    # waiting (r9 review: a healthy vacuum merely running longer than a
    # waiter's patience must not be reported as crashed — following the
    # old message's advice would have deleted a LIVE lock and reopened
    # the delete-vs-commit race the lock exists to close)
    VACUUM_LOCK_STALE_S = 300.0

    def _vacuum_lock_age(self) -> float | None:
        st = self.protocol.stat(self._VACUUM_LOCK)
        return None if st is None else max(0.0, time.time() - st[0])

    def _refresh_vacuum_lock(self, payload: bytes) -> None:
        """HEARTBEAT the vacuum/rollback lock: overwrite it so its
        mtime measures LIVENESS, not elapsed runtime (ADVICE r9: a
        healthy vacuum rmtree-ing many directories for longer than
        VACUUM_LOCK_STALE_S made every waiting committer report a live
        lock as crashed and advise deleting it — reopening the
        delete-vs-commit race the lock closes).  Only the lock HOLDER
        calls this; `put` is a plain overwrite on both protocol
        backends and refreshes the stat mtime `_vacuum_lock_age`
        reads."""
        try:
            self.protocol.put(self._VACUUM_LOCK, payload)
        except Exception:
            pass  # heartbeat is best-effort; staleness just ages

    def _wait_no_vacuum(self) -> None:
        """Commits exclude a running vacuum (which deletes directories
        and truncates history) by waiting on its lock.  A lock whose
        AGE exceeds VACUUM_LOCK_STALE_S means a crashed vacuum —
        report it by name instead of deadlocking."""
        while True:
            age = self._vacuum_lock_age()
            if age is None:
                return
            if age > self.VACUUM_LOCK_STALE_S:
                raise StaleCommitMarkerError(
                    f"snapshot table {self.root}: vacuum lock "
                    f"{self._VACUUM_LOCK} is {age:.0f}s old (> "
                    f"VACUUM_LOCK_STALE_S={self.VACUUM_LOCK_STALE_S}) — a "
                    "vacuum crashed mid-run; delete the lock file to "
                    "recover"
                )
            time.sleep(0.02)

    def _acquire_vacuum_lock(self, payload: bytes) -> None:
        """Take the vacuum lock (vacuum and rollback hold it), waiting
        out a live holder and reporting a stale one by name."""
        while not self.protocol.put_if_absent(self._VACUUM_LOCK, payload):
            age = self._vacuum_lock_age()
            if age is not None and age > self.VACUUM_LOCK_STALE_S:
                raise StaleCommitMarkerError(
                    f"snapshot table {self.root}: vacuum lock "
                    f"{self._VACUUM_LOCK} is {age:.0f}s old — a vacuum "
                    "crashed; delete the lock file to recover"
                )
            time.sleep(0.02)

    def _append_log(
        self,
        record: dict,
        expected_parent: int | None = None,
        _during_vacuum: bool = False,
    ) -> int:
        """Publish `record`, as given, as the next version: version N
        is whoever atomically CREATES `_log/{N}.json` via the
        protocol's put_if_absent — the claim and the record are one
        object, so interleaved committers never drop each other's
        record and a crashed committer leaves nothing to go stale.

        `expected_parent` is the head version the record was built
        against: if the head moved, the write is REJECTED with
        ConcurrentWriteError (first-committer-wins).  What the record
        carries over from its parent is `_record`'s decision.

        Returns the committed version number."""
        while True:
            if not _during_vacuum:
                self._wait_no_vacuum()
            head_v = self._head_version()
            if expected_parent is not None and head_v != expected_parent:
                raise ConcurrentWriteError(
                    f"snapshot table {self.root}: head moved from version "
                    f"{expected_parent} to {head_v} during this operation — "
                    "re-read the table and retry"
                )
            parent = self._state_at(head_v)[0] if head_v >= 0 else None
            n = head_v + 1
            seg = self._make_seg(parent, record, n, time.time())
            data = json.dumps(seg, separators=(",", ":")).encode()
            if not _during_vacuum and self.protocol.exists(
                self._VACUUM_LOCK
            ):
                # re-check IMMEDIATELY before publish (ADVICE r9): the
                # state-fold/seg-build above is unbounded work, and a
                # vacuum that acquired its lock inside that window
                # (with grace_s=0, e.g. single-writer test jobs) could
                # otherwise reclaim this commit's not-yet-referenced
                # data dir before the record lands.  Loop back to the
                # full wait — vacuum's settle sleep then bounds the
                # remaining check-to-publish window.
                continue
            if not self.protocol.put_if_absent(self._seg_key(n), data):
                # someone published n first: loop — the CAS check above
                # then raises (without expected_parent the record lands
                # on the fresh head)
                continue
            if n > 0 and n % self.CHECKPOINT_EVERY == 0:
                # checkpoints are an optimization: only version n's
                # (unique) publisher writes ckpt n, and a failure must
                # never fail the commit that already happened
                try:
                    self._write_ckpt(n)
                except Exception:
                    pass
            return n

    # -- commits ---------------------------------------------------------
    def _new_dir(self, kind: str) -> str:
        """Reserve a unique directory name for a new snapshot/sidecar
        write.  The name is CLAIMED with an O_CREAT|O_EXCL side file
        before being handed out, so two concurrent writers (who both
        read the same log length) never race Spark's errorifexists on
        the same path — the loser gets a `_1`-suffixed name.  The
        manifest references directories by path, so the version prefix
        in the name is cosmetic."""
        base = os.path.join(
            self.root, f"v{self._head_version() + 1:05d}_{kind}"
        )
        d, i = base, 0
        while True:
            claim = "_claim_" + os.path.basename(d)
            if not self.protocol.put_if_absent(claim, b""):
                i += 1
                d = f"{base}_{i}"
                continue
            if os.path.exists(d):  # pre-claim-era directory
                i += 1
                d = f"{base}_{i}"
                continue
            return d

    @contextlib.contextmanager
    def _staging(self):
        """Scope of one mutation's staged directories, yielded as
        {dir: schema written (None for a DV sidecar)}.  `_publish`
        takes the dirs its record references out of it; on leaving the
        scope every dir still in it is removed with its manifest and
        claim — all of them when the mutation raised or published
        nothing."""
        staged: dict = {}
        try:
            yield staged
        finally:
            for d in staged:
                self._remove_dir(d)

    def _stage(
        self,
        staged: dict,
        spark: SparkSession,
        kind: str,
        df: DataFrame,
        ann_cents=None,
        sidecar: bool = False,
    ) -> str:
        """Write `df` as a new `kind` directory of this mutation, plus
        its manifest sidecar — except for a DV `sidecar`, which has no
        manifest and no per-directory schema entry."""
        schema = None if sidecar else df.schema
        d = self._new_dir(kind)
        staged[d] = schema
        df.write.mode("errorifexists").parquet(d)
        if not sidecar:
            self._write_manifest(spark, d, ann_cents)
        return d

    def _dir_meta(
        self, parent_rec: dict, files: list[str], staged: dict | None = None
    ) -> dict:
        """Per-directory physical-schema bookkeeping of a record whose
        file list is `files`: `dir_columns` (physical column names),
        `dir_schema_json` (physical types as written), and — after a
        rename — `dir_logical_columns` (what each physical column is
        CALLED under the current logical schema).  Directories the
        parent had keep their entries; a staged directory records the
        schema it was physically written with."""
        keep = set(files)
        dc, ds, dl = (
            {k: v for k, v in (parent_rec.get(key) or {}).items() if k in keep}
            for key in self._DIR_KEYS
        )
        for d, schema in (staged or {}).items():
            if schema is not None and d in keep:
                dc[d] = list(schema.names)
                ds[d] = json.dumps(schema.jsonValue())
        out = {"dir_columns": dc, "dir_schema_json": ds}
        if dl:
            out["dir_logical_columns"] = dl
        return out

    def _record(
        self, parent: dict | None, changes: dict, staged: dict
    ) -> dict:
        """The carry-over rule: the record is `changes` (operation,
        files and the metadata the mutation changes) plus every
        non-empty parent metadata key — schema, constraints, DV
        sidecars, ANN quantizer and codebook generations — except the
        per-commit `batch_id` and `renames`.  The `dir_*` maps are
        derived (_dir_meta) unless the mutation sets them.  Per-FILE
        manifests live in sidecars keyed by directory, so nothing
        O(#files) is copied forward; DV entries and ann_gens keyed by
        dirs that left the file set are inert at read time."""
        parent = parent or {}
        rec = dict(changes)
        if "dir_columns" not in rec and ("columns" in rec or "columns" in parent):
            meta = self._dir_meta(parent, rec["files"], staged)
            if "schema_json" in rec:
                # the dir maps sit right after the schema the mutation
                # sets: key order fixes the published segment's bytes
                lead = list(rec)[: list(rec).index("schema_json") + 1]
                rec = {**{k: rec.pop(k) for k in lead}, **meta, **rec}
            else:
                rec.update(meta)
        skip = {*self._SEG_OWNED, *self._PER_COMMIT, *self._DIR_KEYS}
        for k, v in parent.items():
            if v and k not in rec and k not in skip:
                rec[k] = v
        return rec

    def _publish(
        self,
        head: dict | None,
        changes,
        staged: dict | None = None,
        rebase: DataFrame | None = None,
        expected_parent: int | None = None,
        _during_vacuum: bool = False,
    ) -> int | None:
        """Publish a mutation's record; `head` is the head record it
        read and `staged` its `_staging()` scope.

        Content-dependent mutations pass `changes` as a dict and CAS on
        `head["version"]`: a moved head raises ConcurrentWriteError.

        Order-independent writers pass `rebase=` the DataFrame they
        wrote and `changes` as a function of the parent record: each of
        up to APPEND_RETRIES attempts rebuilds the record against the
        LIVE head, first re-validating the DataFrame against
        constraints added since `head` (a concurrent add_constraint
        moves the head without conflicting, and the carried constraint
        would otherwise cover rows it never checked).  `changes`
        returning None ends the publish with None (a replayed stream
        batch).  `expected_parent` pins the CAS instead (commit's
        option)."""
        staged = {} if staged is None else staged

        def land(rec: dict, cas: int) -> int:
            v = self._append_log(rec, cas, _during_vacuum)
            for d in rec["files"] + list(rec.get("dvs") or []):
                staged.pop(d, None)  # published: never removed
            return v

        if rebase is None:
            return land(self._record(head, changes, staged), head["version"])
        validated = dict((head or {}).get("constraints") or {})
        for _ in range(self.APPEND_RETRIES):
            state = self._head_state()
            parent = state[0] if state else None
            want = changes(parent)
            if want is None:
                return None
            added = {
                n: e
                for n, e in ((parent or {}).get("constraints") or {}).items()
                if validated.get(n) != e
            }
            self._validate(rebase, added)
            validated.update(added)
            live = parent["version"] if parent else -1
            try:
                return land(
                    self._record(parent, want, staged),
                    live if expected_parent is None else expected_parent,
                )
            except StaleCommitMarkerError:
                raise
            except ConcurrentWriteError:
                if expected_parent is not None:
                    raise
        raise ConcurrentWriteError(
            f"snapshot table {self.root}: {want['operation']} lost the "
            f"commit race {self.APPEND_RETRIES} times in a row"
        )

    def _stats_for(self, d: str) -> dict:
        cols = self._live_cols(self.stat_cols)
        return _file_stats(d, cols) if cols else {}

    def _blooms_for(self, spark: SparkSession, d: str) -> dict:
        """Per-file Bloom filters for `bloom_cols` over the newly
        written directory `d`: {file: {col: {m, k, b}}}.  Built
        EXECUTOR-side — one applyInPandas group per data file (Arrow
        batches, no full-column driver read); only the O(#files)
        serialized bitmaps reach the driver, same manifest posture as
        `stat_cols`."""
        from pyspark.sql import functions as F

        cols = self._live_cols(self.bloom_cols)
        if not cols:
            return {}
        df = _read_pq(spark, [d])
        present = [c for c in cols if c in df.columns]
        if not present:
            return {}
        import pandas as pd

        src = df.select(
            self._norm_file_col(F.col("_metadata.file_path")).alias("__f"),
            *present,
        )

        def build(pdf: "pd.DataFrame") -> "pd.DataFrame":
            f = pdf["__f"].iloc[0]
            rows = []
            for c in present:
                vals = pdf[c].dropna().tolist()
                m, k, b = _bloom_build(vals)
                rows.append((f, c, m, k, b))
            return pd.DataFrame(rows, columns=["f", "c", "m", "k", "b"])

        out: dict[str, dict] = {}
        for r in (
            src.groupBy("__f")
            .applyInPandas(build, "f string, c string, m long, k int, b string")
            .collect()
        ):
            out.setdefault(r["f"], {})[r["c"]] = {
                "m": int(r["m"]), "k": int(r["k"]), "b": r["b"],
            }
        return out

    # -- per-directory manifest sidecars (VERDICT r8 #2) -------------------
    # Per-FILE pruning metadata (min/max zone maps, Bloom filters, ANN
    # cluster sets) is one immutable parquet file per snapshot
    # directory under <root>/_manifests/ — written once when the
    # directory is committed, NEVER copied forward, and read lazily
    # (driver-side with a cache for small tables; executor-side via
    # Spark above PRUNE_DISTRIBUTED_MIN_FILES).  The log record stays
    # independent of the number of data files.

    def _manifest_path(self, d: str) -> str:
        return os.path.join(
            self.root, "_manifests", os.path.basename(d) + ".parquet"
        )

    @staticmethod
    def _data_files(d: str) -> list[str]:
        """The directory's data files — Spark metadata (`_SUCCESS`) and
        our sidecars are `_`-prefixed and never data."""
        try:
            names = sorted(os.listdir(d))
        except FileNotFoundError:
            return []
        return [
            os.path.join(d, fn)
            for fn in names
            if fn.endswith(".parquet") and not fn.startswith(("_", "."))
        ]

    def _fallback_stats(
        self, spark: SparkSession, d: str, stats: dict
    ) -> dict:
        """Exact per-file min/max computed BY SPARK for stat_cols whose
        parquet FOOTER statistics are absent or unextractable: INT96
        timestamps (Spark's default outputTimestampType outside the
        engine session, which pins TIMESTAMP_MICROS) carry no footer
        stats by parquet spec, and pyarrow refuses some decimal
        physical encodings (r9 review #3 — both made `between=`
        pruning a silent no-op on event-time/money columns).  One
        executor-side aggregate over the just-committed directory
        (map-side combine, O(#files) rows to the driver — the same
        manifest-build posture as _blooms_for), and ONLY for columns
        with a footer gap: the common path stays footer-only.
        Timestamps aggregate as unix_micros (an instant, independent
        of session timezone) and are recorded as naive-UTC datetimes —
        the canonical stat encoding (_ts_canon)."""
        cols = self._live_cols(self.stat_cols)
        files = self._data_files(d)
        gap = [
            c
            for c in cols
            if any(c not in stats.get(f, {}) for f in files)
        ]
        if not gap:
            return stats
        import datetime

        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        df = _read_pq(spark, [d])
        gap = [c for c in gap if c in df.columns]
        if not gap:
            return stats
        ts_cols = {
            c
            for c in gap
            if isinstance(df.schema[c].dataType, T.TimestampType)
        }
        src = df.select(
            self._norm_file_col(F.col("_metadata.file_path")).alias("__f"),
            *[
                (
                    F.unix_micros(F.col(c)) if c in ts_cols else F.col(c)
                ).alias(f"__c{i}")
                for i, c in enumerate(gap)
            ],
        )
        agg = src.groupBy("__f").agg(
            *[F.min(f"__c{i}").alias(f"__mn{i}") for i in range(len(gap))],
            *[F.max(f"__c{i}").alias(f"__mx{i}") for i in range(len(gap))],
        )
        epoch = datetime.datetime(1970, 1, 1)
        for r in agg.collect():
            f = r["__f"]
            for i, c in enumerate(gap):
                if c in stats.get(f, {}):
                    continue  # footer already had it
                mn, mx = r[f"__mn{i}"], r[f"__mx{i}"]
                if mn is None or mx is None:
                    continue  # all-null file: stay conservative
                if c in ts_cols:
                    mn = epoch + datetime.timedelta(microseconds=int(mn))
                    mx = epoch + datetime.timedelta(microseconds=int(mx))
                stats.setdefault(f, {})[c] = [mn, mx]
        return stats

    def _write_manifest(self, spark: SparkSession, d: str, ann_cents=None) -> None:
        """Build and write directory `d`'s manifest sidecar: one row
        per (file, column, kind) with a JSON payload — `minmax`
        [lo, hi] from parquet footers, `bloom` {m, k, b} built
        executor-side, `ann` {clusters, mean_sim} from the
        deterministic centroid assignment.  O(new files) rows, written
        once; directories with no recorded metadata get no sidecar
        (readers treat that as no-entries and scan conservatively)."""
        rows: list[tuple[str, str, str, str]] = []
        stats = self._fallback_stats(spark, d, self._stats_for(d))
        for f, cols in stats.items():
            for c, mm in cols.items():
                rows.append(
                    (f, c, "minmax",
                     json.dumps([_stat_enc(mm[0]), _stat_enc(mm[1])]))
                )
        for f, cols in self._blooms_for(spark, d).items():
            for c, e in cols.items():
                rows.append((f, c, "bloom", json.dumps(e)))
        if ann_cents is not None:
            from dbt_lab_spark.plans.ann import file_cluster_stats

            col = self._ann_live_col()
            if col is not None:
                for f, e in file_cluster_stats(
                    spark, d, ann_cents, col, self._norm_file_col
                ).items():
                    rows.append((f, col, "ann", json.dumps(e)))
        if not rows:
            return
        import pyarrow as pa
        import pyarrow.parquet as pq

        path = self._manifest_path(d)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(
            pa.table(
                {
                    "file": [r[0] for r in rows],
                    "col": [r[1] for r in rows],
                    "kind": [r[2] for r in rows],
                    "payload": [r[3] for r in rows],
                }
            ),
            path,
        )

    def _remove_dir(self, d: str) -> None:
        """Drop an unpublished snapshot directory AND its sidecar + name
        claim (the `_staging()` scope's cleanup)."""
        import shutil

        shutil.rmtree(d, ignore_errors=True)
        try:
            os.unlink(self._manifest_path(d))
        except OSError:
            pass
        self.protocol.delete("_claim_" + os.path.basename(d))

    def _manifest_for(self, d: str) -> dict:
        """Parsed manifest for directory `d`:
        {"minmax": {file: {col: [lo, hi]}},
         "bloom": {file: {col: {m, k, b}}},
         "ann": {file: {"clusters": [...], "mean_sim": x}}} — empty
        dicts when no sidecar exists.  Cached: directories are
        immutable and version numbers never recur."""
        path = self._manifest_path(d)
        try:
            st = os.stat(path)
        except FileNotFoundError:
            return {"minmax": {}, "bloom": {}, "ann": {}}
        key = (path, st.st_mtime_ns, st.st_size)
        hit = _MANIFEST_CACHE.get(key)
        if hit is not None:
            return hit
        import pyarrow.parquet as pq

        t = pq.read_table(path)
        out: dict = {"minmax": {}, "bloom": {}, "ann": {}}
        for f, c, kind, payload in zip(
            t.column("file").to_pylist(),
            t.column("col").to_pylist(),
            t.column("kind").to_pylist(),
            t.column("payload").to_pylist(),
        ):
            v = json.loads(payload)
            if kind == "ann":
                out["ann"][f] = v
            elif kind == "minmax":
                out["minmax"].setdefault(f, {})[c] = [
                    _stat_dec(v[0]), _stat_dec(v[1])
                ]
            else:
                out[kind].setdefault(f, {})[c] = v
        _cache_put(_MANIFEST_CACHE, key, out, 1024)
        return out

    @staticmethod
    def _phys_name(rec: dict, d: str, col: str) -> str:
        """Translate a LOGICAL column name to directory `d`'s physical
        one (manifest sidecars are keyed by the names the directory
        was physically written with; renames since then are a per-dir
        mapping in the record — the sidecars themselves are never
        rewritten)."""
        dl = (rec.get("dir_logical_columns") or {}).get(d)
        dc = (rec.get("dir_columns") or {}).get(d)
        if dl and dc and col in dl:
            return dc[dl.index(col)]
        return col

    # -- ANN index maintenance (plans/ann.py does the heavy lifting) ------
    def _ann_live_col(self) -> str | None:
        return self._live_cols([self.ann_col])[0] if self.ann_col else None

    def _ann_cents(self, df: DataFrame | None) -> list[list[float]] | None:
        """Centroids in priority order: the table's recorded quantizer
        (immutable after the first ann commit, until an explicit
        retrain), the constructor-supplied one, else train on `df`
        (the first-commit path)."""
        head = self._head_state()
        if head and head[0].get("ann"):
            return head[0]["ann"]["centroids"]
        if self.ann_centroids is not None:
            return [list(c) for c in self.ann_centroids]
        if df is None:
            return None
        from pyspark.sql import functions as F

        from dbt_lab_spark.llm.similarity import ivf_centroids

        col = self._ann_live_col()
        row = df.select(F.size(col)).first()
        if row is None or row[0] is None:
            # empty (or all-null) first batch — Structured Streaming
            # can deliver one: defer quantizer training to the first
            # batch that actually carries vectors (r9 review)
            return None
        dim = row[0]
        return ivf_centroids(
            df,
            num_centroids=self.ann_lists,
            iters=5,
            vec_col=col,
            id_col=self.ann_id_col,
            dim=int(dim),
        )

    def _ann_stage(self, df: DataFrame):
        """Cluster-order an incoming batch by assigned centroid (one
        map-only Arrow assignment + one range shuffle of the BATCH) so
        its files are list-clustered.  Returns (df, centroids) — or
        (df, None) when this table has no ANN column."""
        col = self._ann_live_col()
        if not col or col not in df.columns:
            return df, None
        cents = self._ann_cents(df)
        if cents is None:  # empty first batch: nothing to cluster yet
            return df, None
        from dbt_lab_spark.plans.ann import cluster_order

        return cluster_order(df, cents, col, self.ann_files), cents

    def _ann_meta(self, cents) -> dict:
        """The commit record's ann fragment ({} without centroids):
        quantizer METADATA only (centroids, column, id column) —
        O(C x d), independent of the number of files.  Per-file cluster
        sets live in each directory's manifest sidecar."""
        if cents is None:
            return {}
        return {
            "ann": {
                "centroids": [list(c) for c in cents],
                "col": self._ann_live_col(),
                "id_col": self.ann_id_col,
            }
        }

    def ann_file_clusters(self, version: int | None = None) -> dict:
        """{data file: [cluster ids]} for the version, assembled from
        the directories' manifest sidecars — files written by paths
        that do not re-cluster (CoW merge/delete) have no entry and
        are conservatively read at knn time."""
        rec = self._head(version)
        out: dict[str, list[int]] = {}
        for d in rec["files"]:
            for f, e in self._manifest_for(d)["ann"].items():
                out[f] = list(e["clusters"])
        return out

    def file_stats(self, version: int | None = None) -> dict:
        """{data file: {LOGICAL column: [lo, hi]}} for the version,
        assembled from manifest sidecars with per-directory physical →
        logical name translation — the audit view of what `between=`
        pruning sees."""
        rec = self._head(version)
        out: dict[str, dict] = {}
        for d in rec["files"]:
            dl = (rec.get("dir_logical_columns") or {}).get(d)
            dc = (rec.get("dir_columns") or {}).get(d)
            to_logical = dict(zip(dc, dl)) if dl and dc else {}
            for f, cols in self._manifest_for(d)["minmax"].items():
                out[f] = {
                    to_logical.get(c, c): v for c, v in cols.items()
                }
        return out

    def knn(
        self,
        spark: SparkSession,
        queries: DataFrame,
        k: int = 10,
        nprobe: int = 4,
        version: int | None = None,
        query_id_col: str = "query_id",
    ) -> DataFrame:
        """Approximate top-k over the snapshot-maintained IVF index:
        resolve each query's nprobe nearest centroids, PRUNE the scan
        to files whose recorded cluster sets intersect the probe union
        (files without an entry are conservatively read), then delegate
        candidate scoring to the audited ivf_knn path (scorer='jvm',
        the bit-exact sequential-fold cosine contract).  Results equal
        a full-corpus ivf_knn with the same centroids — pinned in
        tests/test_wave38.py — because the manifest's assignment and
        the scorer's re-assignment share one deterministic formula."""
        from pyspark.sql import functions as F

        from dbt_lab_spark.llm.similarity import ivf_knn
        from dbt_lab_spark.plans import ann as _ann

        rec = self._head(version)
        meta = rec.get("ann")
        if not meta:
            raise ValueError(
                f"snapshot table {self.root}: no ANN index — construct "
                "with ann_col= and commit vector data first"
            )
        col = meta.get("col") or self._ann_live_col()
        id_col = meta.get("id_col") or self.ann_id_col
        parts: list[DataFrame] = []
        for cents_g, dirs_g in self._ann_gen_map(rec):
            # ONE probe computation per generation (Arrow matmul,
            # C-independent plan) shared by the file pruner and the
            # scorer — the two can never diverge on a near-tie, and
            # the C-sized expression tree that stops compiling around
            # C~100 never gets built.  localCheckpoint (not cache —
            # ADVICE r8): materialized once, eagerly, and released by
            # the ContextCleaner when garbage-collected, so repeated
            # knn() calls never accumulate session-lifetime cached
            # partitions.
            probes = _ann.probe_clusters(
                queries, cents_g, nprobe, col, query_id_col
            ).localCheckpoint(eager=True)
            probed = {
                r["cluster"]
                for r in probes.select("cluster").distinct().collect()
                # bounded by the number of centroids
            }
            keep, _, _ = self._ann_prune(rec, probed, dirs=dirs_g)
            if not keep:
                continue
            parts.append(
                ivf_knn(
                    self._read_paths(spark, rec, keep),
                    queries,
                    cents_g,
                    k=k,
                    nprobe=nprobe,
                    vec_col=col,
                    id_col=id_col,
                    query_id_col=query_id_col,
                    scorer="jvm",
                    probes=probes,
                )
            )
        if not parts:
            corpus = self._read_paths(spark, rec, rec["files"]).filter(
                F.lit(False)
            )
            return ivf_knn(
                corpus,
                queries,
                meta["centroids"],
                k=k,
                nprobe=nprobe,
                vec_col=col,
                id_col=id_col,
                query_id_col=query_id_col,
                scorer="jvm",
            )
        if len(parts) == 1:
            return parts[0]  # single generation: the audited exact path
        # multi-generation union: every part carries EXACT cosines from
        # the shared jvm scorer, so the global top-k is the top-k of
        # the per-generation top-k union — a neighbor outside its own
        # generation's top-k has >= k better within that generation
        # alone and can never enter the global answer.
        from pyspark.sql import Window

        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        w = Window.partitionBy("query_id").orderBy(
            F.col("cosine").desc(), F.col("neighbor_id").asc()
        )
        return (
            u.drop("rank")
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "cosine", "rank")
        )

    def ann_pruned_file_count(
        self,
        queries: DataFrame,
        nprobe: int = 4,
        version: int | None = None,
        query_id_col: str = "query_id",
    ) -> tuple[int, int]:
        """(files kept, files total) for a knn probe — the ANN
        file-skipping audit number."""
        from dbt_lab_spark.plans import ann as _ann

        rec = self._head(version)
        meta = rec.get("ann") or {}
        if not meta.get("centroids"):
            raise ValueError(f"snapshot table {self.root}: no ANN index")
        col = meta.get("col") or self._ann_live_col()
        kept = total = 0
        for cents_g, dirs_g in self._ann_gen_map(rec):
            probed = {
                r["cluster"]
                for r in _ann.probe_clusters(
                    queries, cents_g, nprobe, col, query_id_col
                )
                .select("cluster")
                .distinct()
                .collect()
            }
            _, k_g, t_g = self._ann_prune(rec, probed, dirs=dirs_g)
            kept += k_g
            total += t_g
        return kept, total

    def _ann_prune(
        self, rec: dict, probed: set, dirs: list[str] | None = None
    ) -> tuple[list[str], int, int]:
        """Keep the data files whose sidecar-recorded cluster set
        intersects the probe union; files without an entry are
        conservatively kept.  `dirs=` restricts the sweep to a subset
        of the version's directories (the per-generation path: each
        codebook generation prunes its own directories against probes
        computed under ITS centroids).  Returns (kept paths, n_kept,
        n_total)."""
        keep: list[str] = []
        total = 0
        for d in rec["files"] if dirs is None else dirs:
            ann_m = self._manifest_for(d)["ann"]
            for p in self._data_files(d):
                total += 1
                e = ann_m.get(p)
                if e is None or probed.intersection(e["clusters"]):
                    keep.append(p)
        return keep, len(keep), total

    def _ann_gen_map(
        self, rec: dict
    ) -> list[tuple[list[list[float]], list[str]]]:
        """Group the version's directories by the codebook GENERATION
        they were clustered under: [(centroids, dirs)].  Single entry
        (the head quantizer over every directory) unless a partial
        retrain (compact(retrain_ann=True, only_drifted=)) left older
        generations in place — their codebooks ride `ann_codebooks`
        and the per-directory assignment in `ann_gens`; directories
        absent from the map are at the LATEST generation.  Mixing
        generations is what makes partial retrain O(drifted) while
        keeping pruning EXACT: a directory's manifest cluster ids are
        only ever compared against probes from the codebook it was
        actually written under."""
        meta = rec["ann"]
        books = rec.get("ann_codebooks") or {}
        gmap = rec.get("ann_gens") or {}
        latest = rec.get("ann_gen", 0)
        by_gen: dict[int, list[str]] = {}
        for d in rec["files"]:
            by_gen.setdefault(int(gmap.get(d, latest)), []).append(d)
        return [
            (
                meta["centroids"] if g == latest else books[str(g)],
                dirs,
            )
            for g, dirs in sorted(by_gen.items())
        ]

    def _ann_dir_sims(self, rec: dict) -> dict:
        """{directory: mean assignment similarity | None} from the
        manifest sidecars — per-directory drift, no data read.  None
        means the directory carries no ANN entries (e.g. a CoW-rewrite
        dir): treat as drifted, it benefits from re-clustering."""
        out: dict = {}
        for d in rec["files"]:
            sims = [
                e["mean_sim"]
                for e in self._manifest_for(d)["ann"].values()
                if e.get("mean_sim") is not None
            ]
            out[d] = sum(sims) / len(sims) if sims else None
        return out

    def ann_dir_staleness(self, version: int | None = None) -> dict:
        """{directory: staleness} — per-directory max(0, base - sim),
        the input to compact(retrain_ann=True, only_drifted=): a
        directory whose data assigns much farther from the centroids
        than the quantizer's training distribution did is the one
        worth re-clustering.  Directories without recorded ANN entries
        report +inf (always drifted)."""
        rec = self._head(version)
        sims = self._ann_dir_sims(rec)
        known = [s for s in sims.values() if s is not None]
        if not known:
            raise ValueError(f"snapshot table {self.root}: no ANN index")
        base = next(s for s in sims.values() if s is not None)
        return {
            d: (float("inf") if s is None else max(0.0, base - s))
            for d, s in sims.items()
        }

    def ann_staleness(self, version: int | None = None) -> dict:
        """ANN index drift metric (VERDICT r8 #4): per-commit mean
        max-cosine assignment similarity rides each directory's
        manifest, so drift is visible WITHOUT rescanning data.  Returns
        {"base_mean_sim": directories written under the quantizer's
        training distribution (the first ann-keyed dir),
        "latest_mean_sim": the newest ann-keyed dir,
        "staleness": max(0, base - latest)} — a corpus whose embedding
        distribution drifted assigns FARTHER from every centroid, so
        latest drops below base; retrain via
        compact(retrain_ann=True) when staleness exceeds your recall
        budget (measured in ANN_SCALE_r9.txt)."""
        rec = self._head(version)
        per_dir: list[float] = []
        for d in rec["files"]:
            sims = [
                e["mean_sim"]
                for e in self._manifest_for(d)["ann"].values()
                if e.get("mean_sim") is not None
            ]
            if sims:
                per_dir.append(sum(sims) / len(sims))
        if not per_dir:
            raise ValueError(f"snapshot table {self.root}: no ANN index")
        base, latest = per_dir[0], per_dir[-1]
        return {
            "base_mean_sim": base,
            "latest_mean_sim": latest,
            "staleness": max(0.0, base - latest),
        }

    @staticmethod
    def _norm_file_col(col):
        """Normalize a `_metadata.file_path` value to a plain absolute
        path (strip the file: scheme, collapse the authority slashes) so
        DV entries written in one session match scans in another."""
        from pyspark.sql import functions as F

        return F.regexp_replace(col, "^file:/+", "/")

    def _read_paths(
        self,
        spark: SparkSession,
        rec: dict,
        paths: list[str],
        with_file: bool = False,
        with_pos: bool = False,
    ):
        """Scan `paths` under the version's recorded LOGICAL schema.

        `with_file=True` additionally exposes each row's physical data
        file as `__f` — captured from `_metadata.file_path` INSIDE each
        generation's scan, because metadata columns do not resolve
        through the union that stitches generations together (that is
        what merge/delete_where's touched-dir detection reads).
        `with_pos=True` also exposes the row's position within its file
        as `__ri` (`_metadata.row_index`) — the positional id deletion
        vectors are keyed by.

        DELETION VECTORS: when the version carries DV sidecars
        (`rec["dvs"]`, written by delete_where(mode="dv")), every scan
        is finished with one broadcast anti-join against the DV rows
        (file, row_index) — merge-on-read row-level delete.  The DV
        side is small by construction (one row per deleted record), so
        the anti-join is a broadcast, not a shuffle; files never named
        in a DV pass through untouched.

        Directories are grouped by their physical schema GENERATION
        (identical physical columns + types + logical mapping); each
        group is one plain parquet scan, adapted to the logical schema
        by name (rename mapping), cast (type widening), and typed-null
        fill (columns added later) — then the generations union.  The
        number of scans is bounded by the number of schema evolutions,
        never by the number of directories, and a never-evolved table
        stays a single plain scan with no projection at all — the
        schema-in-the-log mechanics of the object-store table formats.

        Old versions keep their own schema_json, so time travel reads
        original names and types unchanged."""
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        dvs = [d for d in (rec.get("dvs") or []) if os.path.isdir(d)]
        need_meta = with_file or with_pos or bool(dvs)

        def meta_cols():
            cols = []
            if need_meta:
                cols.append(F.col("_metadata.file_path").alias("__f"))
            if with_pos or dvs:
                cols.append(F.col("_metadata.row_index").alias("__ri"))
            return cols

        def finish(df):
            if dvs:
                dv = _read_pq(spark, dvs)
                # Broadcast guard (VERDICT r7 #2): the DV side is tiny
                # for the point-delete shape DVs target, but nothing
                # used to stop an accumulated-DV table from broadcasting
                # millions of (path, idx) rows to every executor.  Count
                # the DV rows from parquet FOOTERS (O(#dv files), no
                # data pages) and above the threshold plan a SHUFFLE
                # anti-join instead.
                n_dv = sum(_dir_num_rows(dvd) for dvd in dvs)
                if n_dv <= self.DV_BROADCAST_MAX_ROWS:
                    dv = F.broadcast(dv)
                else:
                    dv = dv.hint("SHUFFLE_MERGE")
                df = df.join(
                    dv,
                    (self._norm_file_col(df["__f"]) == dv["f"])
                    & (df["__ri"] == dv["ri"]),
                    "left_anti",
                )
            drop = []
            if not with_file and need_meta:
                drop.append("__f")
            if not with_pos and (with_pos or dvs or "__ri" in df.columns):
                if "__ri" in df.columns:
                    drop.append("__ri")
            return df.drop(*drop) if drop else df

        if "schema_json" not in rec:
            df = _read_pq(spark, paths)
            if need_meta:
                df = df.select(*meta_cols(), "*")
            return finish(df)
        schema = T.StructType.fromJson(json.loads(rec["schema_json"]))
        dir_cols = rec.get("dir_columns") or {}
        dir_schema = rec.get("dir_schema_json") or {}
        dir_logical = rec.get("dir_logical_columns") or {}
        logical_names = [f.name for f in schema.fields]

        def owner(p: str) -> str | None:
            for d in dir_cols:
                if p == d or p.startswith(d + os.sep):
                    return d
            return None

        groups: dict[tuple, list[str]] = {}
        for p in paths:
            d = owner(p)
            phys = tuple(dir_cols.get(d) or logical_names)
            logi = tuple(dir_logical.get(d) or phys)
            sj = dir_schema.get(d, "")
            groups.setdefault((phys, logi, sj), []).append(p)

        def adapt(df, phys, logi, sj):
            # physical name -> logical name for this generation
            to_logical = dict(zip(phys, logi))
            to_phys = {v: k for k, v in to_logical.items()}
            phys_types = (
                {
                    f.name: f.dataType
                    for f in T.StructType.fromJson(json.loads(sj)).fields
                }
                if sj
                else {}
            )
            same = list(logi) == logical_names and all(
                p == l for p, l in to_logical.items()
            ) and all(
                phys_types.get(f.name, f.dataType) == f.dataType
                for f in schema.fields
            )
            if same and not need_meta:
                return df  # untouched generation: no projection at all
            return df.select(
                *meta_cols(),
                *[
                    F.col(to_phys[f.name]).cast(f.dataType).alias(f.name)
                    if f.name in to_phys
                    else F.lit(None).cast(f.dataType).alias(f.name)
                    for f in schema.fields
                ],
            )

        parts = [
            adapt(
                _read_pq(
                    spark,
                    ps,
                    schema=(
                        _all_nullable(
                            T.StructType.fromJson(json.loads(sj))
                        )
                        if sj
                        else None
                    ),
                ),
                phys,
                logi,
                sj,
            )
            for (phys, logi, sj), ps in sorted(groups.items())
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return finish(out)

    @staticmethod
    def _evolved_schema(parent_rec: dict, batch_df: DataFrame) -> dict:
        """Log-schema bookkeeping for an additive commit: the parent's
        recorded schema plus any NEW batch columns appended in batch
        order.  Returns the record fragment {columns, schema_json}."""
        from pyspark.sql import types as T

        if "schema_json" in parent_rec:
            parent = T.StructType.fromJson(json.loads(parent_rec["schema_json"]))
        else:
            parent = T.StructType(list(batch_df.schema.fields))
        have = {f.name for f in parent.fields}
        fields = list(parent.fields) + [
            f for f in batch_df.schema.fields if f.name not in have
        ]
        schema = T.StructType(fields)
        return {
            "columns": [f.name for f in fields],
            "schema_json": json.dumps(schema.jsonValue()),
        }

    # -- CHECK constraints (Delta-style) -----------------------------------
    def add_constraint(self, spark: SparkSession, name: str, sql_expr: str) -> int:
        """Record a CHECK constraint as a metadata-only commit: every
        subsequent write (commit/append/stream batch/merge source) is
        validated against it, and the EXISTING table contents are
        validated now — adding a constraint a current row violates is
        an error, the ALTER TABLE ADD CONSTRAINT contract.  SQL
        semantics: a row passes when the expression is true OR NULL."""
        head = self._head()
        cons = dict(head.get("constraints") or {})
        if name in cons:
            raise ValueError(f"constraint {name!r} already exists")
        self._validate(
            self._read_paths(spark, head, head["files"]), {name: sql_expr}
        )
        cons[name] = sql_expr
        return self._publish(
            head,
            {
                "operation": f"add_constraint({name})",
                "files": list(head["files"]),
                "constraints": cons,
            },
        )

    def drop_constraint(self, name: str) -> int:
        head = self._head()
        cons = dict(head.get("constraints") or {})
        if name not in cons:
            raise ValueError(f"no constraint {name!r}")
        del cons[name]
        return self._publish(
            head,
            {
                "operation": f"drop_constraint({name})",
                "files": list(head["files"]),
                "constraints": cons,
            },
        )

    def _validate(self, df: DataFrame, constraints: dict[str, str]) -> None:
        """Raise on the first constraint any incoming row violates —
        one filter + limit(1) per constraint, O(batch) cost, and the
        violating row is named in the error (NULL passes, SQL CHECK
        semantics)."""
        from pyspark.sql import functions as F

        for name, sql_expr in (constraints or {}).items():
            bad = df.filter(F.expr(f"NOT ({sql_expr})")).limit(1).collect()
            if bad:
                raise ValueError(
                    f"CHECK constraint {name!r} ({sql_expr}) violated by "
                    f"row {tuple(bad[0])}"
                )

    def commit(
        self,
        df: DataFrame,
        operation: str = "commit",
        expected_parent: int | None = None,
        record_extra: dict | None = None,
    ) -> int:
        """Full-replace commit: materialize `df` as a new immutable
        snapshot directory.  A full replace is order-independent, so by
        default it never conflicts; pass `expected_parent` to CAS
        against a specific head (append's empty-table path uses -1 so
        a racing first commit isn't silently replaced)."""
        state = self._head_state()
        head = state[0] if state else None
        self._validate(df, (head or {}).get("constraints"))
        df, ann_cents = self._ann_stage(df)
        with self._staging() as staged:
            d = self._stage(staged, df.sparkSession, "full", df, ann_cents)
            rec = {
                "operation": operation,
                "files": [d],
                "columns": list(df.columns),
                "schema_json": json.dumps(df.schema.jsonValue()),
                **(record_extra or {}),
                **self._ann_meta(ann_cents),
            }
            return self._publish(
                head,
                lambda parent: rec,
                staged,
                rebase=df,
                expected_parent=expected_parent,
            )

    # commit-rebase attempts for append-only writers before giving up
    # (each retry means another writer just committed; starvation needs
    # a sustained faster committer)
    APPEND_RETRIES = 20

    def append(self, batch: DataFrame) -> int:
        """Delta commit: write ONLY the batch; the new version's file
        set is the parent's files plus the delta directory (no
        rewrite of existing data).

        Concurrency (VERDICT r7 #1): an append is order-independent —
        its record is just parent ∪ delta — so a conflicting commit by
        another writer REBASES this one: the delta directory is written
        once, then the record is rebuilt against the live head and the
        conflict-checked append retried.  N racing appends serialize to
        the exact union (pinned in tests/test_wave37.py); conflicts
        with content-dependent DML are surfaced by THAT operation, not
        this one."""
        if self._head_version() < 0:
            try:
                return self.commit(
                    batch, operation="append", expected_parent=-1
                )
            except StaleCommitMarkerError:
                raise
            except ConcurrentWriteError:
                pass  # another writer created v0: append as a delta
        head = self._head()
        self._validate(batch, head.get("constraints"))
        batch, ann_cents = self._ann_stage(batch)
        ann = self._ann_meta(ann_cents)
        with self._staging() as staged:
            d = self._stage(staged, batch.sparkSession, "delta", batch, ann_cents)
            return self._publish(
                head,
                lambda parent: {
                    "operation": "append",
                    "files": parent["files"] + [d],
                    **self._evolved_schema(parent, batch),
                    **ann,
                },
                staged,
                rebase=batch,
            )

    def rollback(self, version: int) -> int:
        """Commit a new version whose file set IS an old version's —
        history stays intact, the head moves back.

        The restored version's CONSTRAINT set, deletion-vector state
        and ANN quantizer are restored with it (not inherited from the
        abandoned head — ADVICE r6: inheriting the head's constraints
        could leave head data that violates a constraint the restored
        rows were never validated against; likewise a post-retrain
        head's centroids must not be applied to pre-retrain files).

        Rollback is the one commit kind that references directories
        OUTSIDE the recent heads, so it holds the vacuum lock from
        target-read to publish — a concurrent vacuum can then never
        delete the target's directories between the two (ADVICE r8)."""
        self._acquire_vacuum_lock(b"rollback")
        try:
            target = self._rec_at(version)
            rec = {
                "operation": f"rollback({version})",
                "files": list(target["files"]),
                "constraints": dict(target.get("constraints") or {}),
                "dvs": list(target.get("dvs") or []),
                "ann": dict(target.get("ann") or {}),
                # a post-partial-retrain head's generation maps must
                # not leak onto a pre-retrain restore (and vice versa)
                "ann_gens": dict(target.get("ann_gens") or {}),
                "ann_codebooks": dict(target.get("ann_codebooks") or {}),
                "ann_gen": int(target.get("ann_gen", 0)),
            }
            if "columns" in target:
                rec["columns"] = list(target["columns"])
                rec.update(self._dir_meta(target, target["files"]))
                if "schema_json" in target:
                    rec["schema_json"] = target["schema_json"]
            # heartbeat before publishing: folding a long history for
            # the target read can take a while, and waiters judge the
            # lock by its mtime (ADVICE r9)
            self._refresh_vacuum_lock(b"rollback")
            return self._publish(self._head(), rec, _during_vacuum=True)
        finally:
            self.protocol.delete(self._VACUUM_LOCK)

    # safe widenings (the Delta type-widening matrix for integrals and
    # floats): every old value is exactly representable in the new type
    _WIDEN_OK = {
        ("byte", "short"), ("byte", "integer"), ("byte", "long"),
        ("byte", "double"),
        ("short", "integer"), ("short", "long"), ("short", "double"),
        ("integer", "long"), ("integer", "double"),
        ("float", "double"),
    }

    def evolve(
        self,
        widen: dict[str, str] | None = None,
        rename: dict[str, str] | None = None,
        drop: list[str] | None = None,
    ) -> int:
        """Schema evolution BEYOND additive (VERDICT r5 #6): commit a
        METADATA-ONLY version whose logical schema widens column types
        (`widen={"col": "long"}`, restricted to the exact-superset
        matrix in _WIDEN_OK) and/or renames columns
        (`rename={"old": "new"}`) and/or DROPS columns (`drop=[...]`)
        — no data file is read or rewritten; the new record carries
        the parent's file set by reference.

        Drop uses column-MAPPING semantics (the Delta idea): existing
        directories' physical columns are remapped to a tombstone
        logical name, so a LATER column re-using the dropped name
        never resurrects the old physical data — pre-drop generations
        null-fill the re-added column.  Time travel before the drop
        still reads the original column.

        Readers of the new head adapt each directory's physical schema
        generation to the logical one (cast for widen, alias for
        rename) inside _read_paths; time travel to pre-evolve versions
        still reads the ORIGINAL names and types, because every version
        keeps its own schema_json.  Subsequent appends may write
        batches in either the old (pre-widen) or new physical types —
        reads cast per generation either way."""
        from pyspark.sql import types as T

        head = self._head()
        if "schema_json" not in head:
            raise ValueError("evolve: table has no recorded schema")
        schema = T.StructType.fromJson(json.loads(head["schema_json"]))
        widen = dict(widen or {})
        rename = dict(rename or {})
        drop = list(drop or [])
        names = [f.name for f in schema.fields]
        for old in list(widen) + list(rename) + drop:
            if old not in names:
                raise ValueError(f"evolve: no column {old!r} in {names}")
        if set(drop) & (set(widen) | set(rename)):
            raise ValueError("evolve: a column cannot be both dropped and kept")
        if len(drop) >= len(names):
            raise ValueError("evolve: cannot drop every column")
        new_names = [rename.get(n, n) for n in names if n not in drop]
        if len(set(new_names)) != len(new_names):
            raise ValueError(f"evolve: rename collides: {new_names}")
        # CHECK constraints are SQL over LOGICAL names (ADVICE r6):
        # a constraint referencing a dropped column would fail every
        # later write (reject, Delta's ALTER COLUMN behavior); one
        # referencing a renamed column is rewritten — in a single
        # simultaneous pass, so swap renames ({a: b, b: a}) bind to the
        # right data.  Identifier matching SKIPS single-quoted string
        # literals (ADVICE r7): a dropped/renamed name appearing inside
        # a literal (note <> 'k units') is data, not a reference — it
        # must neither block the drop nor be rewritten.
        import re

        new_cons: dict[str, str] = {}
        pat = (
            re.compile(
                r"\b(" + "|".join(re.escape(o) for o in rename) + r")\b"
            )
            if rename
            else None
        )
        for cname, cexpr in (head.get("constraints") or {}).items():
            out_chunks: list[str] = []
            for is_lit, chunk in _sql_literal_spans(cexpr):
                if is_lit:
                    out_chunks.append(chunk)
                    continue
                for c in drop:
                    if re.search(rf"\b{re.escape(c)}\b", chunk):
                        raise ValueError(
                            f"evolve: CHECK constraint {cname!r} ({cexpr}) "
                            f"references dropped column {c!r} — "
                            "drop_constraint first"
                        )
                out_chunks.append(
                    pat.sub(lambda m: rename[m.group(1)], chunk)
                    if pat
                    else chunk
                )
            new_cons[cname] = "".join(out_chunks)
        version = head["version"] + 1
        # tombstone mapping for dropped columns: unique per evolve, so
        # pre-drop physical data never binds to a re-added name
        rename.update({c: f"__dropped_{c}_v{version}" for c in drop})
        fields = []
        for f in schema.fields:
            if f.name in drop:
                continue
            dt = f.dataType
            if f.name in widen:
                tgt = widen[f.name]
                pair = (dt.typeName(), tgt)
                if pair not in self._WIDEN_OK:
                    raise ValueError(
                        f"evolve: {f.name}: {pair[0]} -> {tgt} is not a "
                        f"safe widening (allowed: {sorted(self._WIDEN_OK)})"
                    )
                dt = {
                    "short": T.ShortType(),
                    "integer": T.IntegerType(),
                    "long": T.LongType(),
                    "double": T.DoubleType(),
                }[tgt]
            fields.append(
                T.StructField(rename.get(f.name, f.name), dt, f.nullable)
            )
        new_schema = T.StructType(fields)
        # per-dir logical names: parent's mapping composed with the rename
        parent_logical = head.get("dir_logical_columns") or {}
        dir_cols = head.get("dir_columns") or {}
        dir_logical = {
            d: [rename.get(c, c) for c in parent_logical.get(d, cols)]
            for d, cols in dir_cols.items()
        }
        # Manifest sidecars are keyed by each directory's PHYSICAL
        # column names and are never rewritten: the per-dir logical
        # mapping below is what translates a `between=`/`point=`
        # lookup's logical name back to the sidecar key (_phys_name) —
        # dropped columns map to tombstone names, unreachable from
        # either. min/max stay valid under widening.
        rec = {
                "operation": f"evolve(widen={widen}, rename={rename}, drop={drop})",
                "files": list(head["files"]),
                "constraints": new_cons,
                # rename history (old -> new for THIS evolve, tombstones
                # included): change_feed composes these across versions
                # to align pre-rename rows under post-rename names, and
                # _live_cols uses them to keep stat/bloom recording
                # following a rename.
                "renames": dict(rename),
                "columns": [f.name for f in new_schema.fields],
                "schema_json": json.dumps(new_schema.jsonValue()),
                "dir_columns": dict(dir_cols),
                "dir_schema_json": dict(head.get("dir_schema_json") or {}),
                "dir_logical_columns": dir_logical,
            }
        # the ANN quantizer metadata names its columns LOGICALLY: a
        # rename of the indexed VECTOR column or of the ID column must
        # follow (knn() and later commits' _ann_stage resolve through
        # them — ADVICE r9: following only `col` left ann['id_col']
        # stale after an id-column rename, so knn()/retrain bound a
        # missing column)
        if head.get("ann") and (
            head["ann"].get("col") in rename
            or head["ann"].get("id_col") in rename
        ):
            rec["ann"] = {
                **head["ann"],
                "col": rename.get(
                    head["ann"].get("col"), head["ann"].get("col")
                ),
                "id_col": rename.get(
                    head["ann"].get("id_col"), head["ann"].get("id_col")
                ),
            }
        return self._publish(head, rec)

    def append_stream_batch(self, batch: DataFrame, batch_id: int) -> int | None:
        """Idempotent foreachBatch sink: commit the micro-batch as a
        delta UNLESS this batch_id already committed — Structured
        Streaming re-delivers the last batch after a failure, and
        recording the id in the log turns at-least-once delivery into
        exactly-once table contents.  Returns the new version, or None
        for a replayed no-op."""
        if self._batch_committed(batch_id):
            return None
        state = self._head_state()
        head = state[0] if state else None
        self._validate(batch, (head or {}).get("constraints"))
        batch, ann_cents = self._ann_stage(batch)
        ann = self._ann_meta(ann_cents)

        def changes(parent):
            # the batch_id re-check rides every publish attempt: two
            # concurrent replays of the same batch race their commits,
            # and the loser must observe the winner's record, not
            # double-apply.  The fold carries the CUMULATIVE id set
            # through checkpoints, so the check also survives vacuum.
            if self._batch_committed(batch_id):
                return None
            parent = parent or {}
            return {
                "operation": "stream",
                "batch_id": batch_id,
                "files": (parent.get("files") or []) + [d],
                **self._evolved_schema(parent, batch),
                **ann,
            }

        with self._staging() as staged:
            kind = "full" if head is None else "delta"
            d = self._stage(staged, batch.sparkSession, kind, batch, ann_cents)
            return self._publish(head, changes, staged, rebase=batch)

    def merge_stream_batch(
        self,
        spark: SparkSession,
        batch: DataFrame,
        batch_id: int,
        on: list[str],
        mode: str = "dv",
    ) -> int | None:
        """Idempotent foreachBatch UPSERT sink — the streaming-CDC
        counterpart of `append_stream_batch`: each micro-batch MERGEs
        into the table (default merge-on-read: DV tombstones + one
        delta directory per batch, no rewrites) UNLESS this batch_id
        already committed, turning Structured Streaming's
        at-least-once redelivery into exactly-once table contents.
        Within a batch, later rows win per key (the CDC convention —
        dropDuplicates keeps an arbitrary row, so callers ordering by
        a sequence column should pre-aggregate; here we keep the
        max-by-struct row when a `_seq` column is present, else
        require unique keys like merge()).  Returns the new version,
        or None for a replayed no-op."""
        from pyspark.sql import functions as F

        if "_seq" in batch.columns:
            others = [c for c in batch.columns if c not in on]
            batch = (
                batch.groupBy(*on)
                .agg(F.max(F.struct("_seq", *[c for c in others if c != "_seq"])).alias("__s"))
                .select(*on, *[F.col(f"__s.{c}").alias(c) for c in others if c != "_seq"])
            )
        # the batch id rides on the commit record itself (record_extra)
        # instead of a read-modify-write stamp after the fact — the
        # post-stamp rewrite could drop a commit racing in between.
        # MERGE is content-dependent, so a conflicting concurrent
        # commit (e.g. a compaction) aborts it; for a SINK that retry
        # is safe — each attempt re-reads the head and the batch_id
        # re-check keeps replays exactly-once.
        for _ in range(self.APPEND_RETRIES):
            if self._batch_committed(batch_id):
                return None
            try:
                if self._head_version() < 0:
                    return self.commit(
                        batch,
                        operation="stream-merge",
                        expected_parent=-1,
                        record_extra={"batch_id": batch_id},
                    )
                return self.merge(
                    spark,
                    batch,
                    on=on,
                    mode=mode,
                    record_extra={"batch_id": batch_id},
                )["version"]
            except StaleCommitMarkerError:
                raise
            except ConcurrentWriteError:
                continue
        raise ConcurrentWriteError(
            f"snapshot table {self.root}: stream merge batch {batch_id} "
            f"lost the commit race {self.APPEND_RETRIES} times in a row"
        )

    # -- reads -----------------------------------------------------------
    @staticmethod
    def _as_of_epoch(as_of) -> float:
        """Normalize an `as_of` time-travel bound to epoch seconds:
        accepts a number (epoch), a datetime (naive = local time, the
        same clock `ts` is recorded on), or an ISO-8601 string."""
        import datetime as _dt

        if isinstance(as_of, (int, float)) and not isinstance(as_of, bool):
            return float(as_of)
        if isinstance(as_of, _dt.datetime):
            return as_of.timestamp()
        if isinstance(as_of, str):
            return _dt.datetime.fromisoformat(as_of).timestamp()
        raise TypeError(
            f"read: as_of must be epoch seconds, datetime, or ISO-8601 "
            f"string, got {type(as_of).__name__}"
        )

    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        between: tuple[str, object, object] | None = None,
        point: tuple[str, object] | None = None,
        as_of=None,
    ) -> DataFrame:
        """Read the head, `version=` for time travel, or `as_of=` for
        TIMESTAMP time travel (VERDICT r7 #3): the table as of a wall
        clock instant — the greatest version whose commit `ts` is <=
        `as_of` (epoch seconds, datetime, or ISO-8601 string).  An
        `as_of` before the first commit is an error (the table did not
        exist); an `as_of` at exactly a commit's ts reads THAT commit
        (<=, the AS OF TIMESTAMP convention); one past the head reads
        the head.  This is the form audits and reproducibility checks
        use — "what did the table say when the model trained at T?".

        `between=(col, lo, hi)` applies manifest-based DATA SKIPPING:
        data files whose recorded [min, max] for `col` can't overlap
        [lo, hi] never reach the Spark scan (and the residual filter is
        still applied, so results are exact regardless of manifest
        coverage — a file with no stats is conservatively read).

        `point=(col, v)` is the POINT-LOOKUP variant backed by the
        per-file Bloom filters recorded under `bloom_cols=`: files
        whose filter proves v absent never reach the scan; false
        positives are caught by the residual equality filter, files
        with no recorded filter are conservatively read.  min/max
        stats rarely prune a high-cardinality key scattered across the
        value range — the Bloom manifest is what makes a needle lookup
        O(matching files) instead of O(table)."""
        from pyspark.sql import functions as F

        if as_of is not None:
            if version is not None:
                raise ValueError("read: pass version= or as_of=, not both")
            epoch = self._as_of_epoch(as_of)
            # resolve over (version, ts) pairs — record TIMESTAMPS are
            # one small field per retained record file, no folding
            vts = [(v, self._read_seg(v)["ts"]) for v in self.versions()]
            eligible = [v for v, ts in vts if ts <= epoch]
            if vts and not eligible:
                raise ValueError(
                    f"snapshot table {self.root}: as_of={as_of!r} predates "
                    f"the first commit (ts={vts[0][1]})"
                )
            version = eligible[-1] if eligible else None
        rec = self._head(version)
        if between is None and point is None:
            return self._read_paths(spark, rec, rec["files"])
        if point is not None:
            if between is not None:
                raise ValueError("read: pass between= or point=, not both")
            pcol, pv = point
            keep = self._prune(spark, rec, "bloom", pcol, (pv,))
            if not keep:
                return (
                    self._read_paths(spark, rec, rec["files"])
                    .filter(F.lit(False))
                    .filter(F.col(pcol) == F.lit(pv))
                )
            return self._read_paths(spark, rec, keep).filter(
                F.col(pcol) == F.lit(pv)
            )
        col, lo, hi = between
        keep = self._prune(spark, rec, "minmax", col, (lo, hi))
        if not keep:
            return (
                self._read_paths(spark, rec, rec["files"])
                .filter(F.lit(False))
                .filter(F.col(col).between(lo, hi))
            )
        return self._read_paths(spark, rec, keep).filter(
            F.col(col).between(lo, hi)
        )

    # files-per-version threshold above which pruning decisions are
    # evaluated DISTRIBUTED (Spark scan of the manifest sidecars +
    # vectorized evaluation in executors) instead of driver-side —
    # at 10^5 files the driver must not open 10^5 sidecars itself
    PRUNE_DISTRIBUTED_MIN_FILES = 4096

    @staticmethod
    def _probe_canon(spark: SparkSession | None, v):
        """Canonical naive-UTC form of a `between=` probe bound.
        Manifest stats are recorded as naive-UTC instants (_ts_canon);
        a tz-aware probe converts directly, a naive one means wall time
        in the SESSION timezone — the interpretation the residual
        filter applies — so it is localized there first.  Without the
        session (audit helpers pass spark=None) naive probes are taken
        as UTC, the engine session's pinned zone (session.py).  A
        timezone we cannot resolve yields an incomparable sentinel:
        every comparison TypeErrors and pruning degrades to
        keep-everything rather than risking a wrong exclusion."""
        import datetime

        if not isinstance(v, datetime.datetime):
            return v
        if v.tzinfo is not None:
            return v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        if spark is not None:
            try:
                tz = spark.conf.get("spark.sql.session.timeZone")
            except Exception:
                tz = None
            if tz and tz not in ("UTC", "Etc/UTC", "GMT", "Z"):
                try:
                    from zoneinfo import ZoneInfo

                    return (
                        v.replace(tzinfo=ZoneInfo(tz))
                        .astimezone(datetime.timezone.utc)
                        .replace(tzinfo=None)
                    )
                except Exception:
                    return object()  # incomparable: prune becomes no-op
        return v

    def _prune(
        self,
        spark: SparkSession | None,
        rec: dict,
        kind: str,
        col: str,
        args: tuple,
    ) -> list[str]:
        """Data files of `rec` that survive manifest pruning.  `kind`
        is "minmax" ([lo, hi] overlap against footer zone maps) or
        "bloom" (point lookup, Bloom definitive-absent).  Lookups name the LOGICAL
        column; each directory's sidecar is keyed by its physical
        names, translated via _phys_name — evolve never rewrites
        sidecars.  Files without an entry are conservatively kept, so
        results are exact regardless of manifest coverage.

        Driver path: one cached sidecar read per directory.  Above
        PRUNE_DISTRIBUTED_MIN_FILES, the sidecars are scanned BY SPARK
        and the exclusion set is computed executor-side — the driver
        receives only the excluded file list (tests pin both paths
        bit-equal)."""
        if kind == "minmax":
            # canonicalize the probe ONCE, before either path captures
            # it: a tz-aware probe becomes naive UTC, a naive one is
            # interpreted in the SESSION timezone (exactly what the
            # residual Spark filter will do) and converted to a UTC
            # instant — probe and recorded stat must land in the same
            # representation or the comparison TypeErrors into
            # keep-everything (r9 review #3), and an interpretation
            # that DIFFERED from the residual filter's could wrongly
            # exclude a file
            args = (
                self._probe_canon(spark, args[0]),
                self._probe_canon(spark, args[1]),
            )
        all_files: list[str] = []
        dir_of: dict[str, str] = {}
        for d in rec["files"]:
            for p in self._data_files(d):
                all_files.append(p)
                dir_of[p] = d
        if spark is not None and len(all_files) >= self.PRUNE_DISTRIBUTED_MIN_FILES:
            excluded = self._prune_excluded_distributed(
                spark, rec, kind, col, args
            )
        else:
            excluded = set()
            for d in rec["files"]:
                man = self._manifest_for(d)[kind]
                pcol = self._phys_name(rec, d, col)
                for p, cols in man.items():
                    e = cols.get(pcol)
                    if e is None:
                        continue
                    if kind == "minmax":
                        lo, hi = args
                        if _minmax_excludes(e, lo, hi):
                            excluded.add(p)
                    else:
                        if not _bloom_maybe_contains(e, args[0]):
                            excluded.add(p)
        return [p for p in all_files if p not in excluded]

    def _prune_excluded_distributed(
        self, spark: SparkSession, rec: dict, kind: str, col: str, args: tuple
    ) -> set[str]:
        """The scale path of _prune: Spark scans the per-directory
        manifest sidecars (column-pruned to this kind + the per-dir
        physical column name) and executors evaluate the exclusion
        predicate over Arrow batches; only excluded file PATHS reach
        the driver — O(excluded), never O(#files) driver work."""
        from collections.abc import Iterator

        import pandas as pd
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        paths, pcol_of_manifest = [], {}
        for d in rec["files"]:
            mp = self._manifest_path(d)
            if os.path.exists(mp):
                paths.append(mp)
                pcol_of_manifest[os.path.realpath(mp)] = self._phys_name(
                    rec, d, col
                )
        if not paths:
            return set()
        src = (
            _read_pq(spark, paths)
            .withColumn(
                "__m",
                self._norm_file_col(F.col("_metadata.file_path")),
            )
            .filter(F.col("kind") == F.lit(kind))
            .select("__m", "col", "file", "payload")
        )
        out_schema = T.StructType([T.StructField("file", T.StringType())])

        def _eval(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                if not len(pdf):
                    continue
                drop = []
                for m, c, f, payload in zip(
                    pdf["__m"], pdf["col"], pdf["file"], pdf["payload"]
                ):
                    pcol = pcol_of_manifest.get(os.path.realpath(m))
                    if pcol is None:
                        # executor-side path missing from the
                        # driver-built map (different mount points on a
                        # multi-node cluster): KEEP the file.  Falling
                        # back to the logical name is unsafe — after a
                        # rename swap, a physical column bearing that
                        # name can be a DIFFERENT logical column, and
                        # its stats could wrongly exclude files
                        # (ADVICE r9).  Pruning is an optimization;
                        # conservative is correct.
                        continue
                    if c != pcol:
                        continue
                    e = json.loads(payload)
                    if kind == "minmax":
                        lo, hi = args
                        e = [_stat_dec(e[0]), _stat_dec(e[1])]
                        if _minmax_excludes(e, lo, hi):
                            drop.append(f)
                    elif not _bloom_maybe_contains(e, args[0]):
                        drop.append(f)
                if drop:
                    yield pd.DataFrame({"file": drop})

        return {
            r["file"] for r in src.mapInPandas(_eval, out_schema).collect()
        }

    def pruned_file_count(
        self, version: int | None, between: tuple[str, object, object]
    ) -> tuple[int, int]:
        """(files kept, files total) for a `between` read — the
        data-skipping audit number."""
        rec = self._head(version)
        col, lo, hi = between
        total = sum(len(self._data_files(d)) for d in rec["files"])
        kept = len(self._prune(None, rec, "minmax", col, (lo, hi)))
        return kept, total

    def pruned_point_file_count(
        self, version: int | None, point: tuple[str, object]
    ) -> tuple[int, int]:
        """(files kept, files total) for a `point=` Bloom lookup — the
        point-skipping audit number."""
        rec = self._head(version)
        pcol, pv = point
        total = sum(len(self._data_files(d)) for d in rec["files"])
        kept = len(self._prune(None, rec, "bloom", pcol, (pv,)))
        return kept, total

    def compact(
        self,
        spark: SparkSession,
        target_mb: float = 128.0,
        order_by: list[str] | None = None,
        n_files: int | None = None,
        zorder: list[str] | None = None,
        retrain_ann: bool = False,
        retrain_iters: int = 5,
        only_drifted: float | None = None,
    ) -> int | None:
        """OPTIMIZE-style small-file compaction (VERDICT r4 #6): bin-pack
        the head version's SMALL snapshot directories (total parquet
        bytes < target_mb) into one rewritten directory of
        ceil(total/target) files, committed as a NEW version — large
        directories are carried over untouched, history is preserved
        (time travel to pre-compaction versions still resolves the old
        directories until `vacuum` reclaims them), and the manifest
        stats for the rewritten files are re-recorded from parquet
        footers so `between=` data skipping keeps working.

        This is the operational other-half of streaming appends: at
        100 TB a foreachBatch sink lands one small directory per
        micro-batch, and scan task count grows O(batches) until a
        periodic compact() folds the long tail back to target-size
        files.  Contents are proven unchanged by the checksum pins in
        tests/test_snapshots.py (pair with the q_table_checksum
        primitive operationally).

        `order_by=` additionally CLUSTERS the rewrite (the OPTIMIZE
        ZORDER idea on one or more leading columns): rows are
        range-partitioned into the output files by the given columns
        and sorted within each file, so every rewritten file owns a
        narrow, non-overlapping value range — the recorded footer
        min/max become tight and `between=` skipping over the
        compacted data starts pruning files instead of reading them
        all (pinned in tests: pruned-file count strictly improves vs
        the unclustered rewrite).  Costs one range shuffle where plain
        bin-packing is shuffle-free; both are one pass over the small
        tail only.

        `zorder=` is the MULTI-dimensional clustering (OPTIMIZE ZORDER
        on the snapshot log — VERDICT r6 #3): each listed column is
        quantile-bucketed, the bucket bits are interleaved into one
        Z-value (sources.zorder_key — integer shift/mask expressions,
        JVM-side), and the rewrite range-partitions + locally sorts by
        it.  Every output file then owns a small hyper-RECTANGLE of the
        value space instead of a slab of one column, so the recorded
        min/max stats are tight on EVERY clustered column and
        `between=` skipping prunes on each of them — what a linear
        `order_by=` can only give the leading column.  Time travel to
        the pre-compaction version is intact as always.

        `n_files=` overrides the byte-derived output count (e.g. to
        pick a clustering granularity finer than target_mb would).

        Compaction is also what MATERIALIZES deletion vectors away:
        the rewrite reads through the DV-applied view, so the new
        files physically exclude DV-deleted rows and later reads skip
        the anti-join for them.

        Returns the new version, or None when fewer than two small
        directories exist (nothing to pack — no empty commit)."""
        import math

        if order_by and zorder:
            raise ValueError("compact: pass order_by= or zorder=, not both")
        if retrain_ann and (order_by or zorder):
            raise ValueError(
                "compact: retrain_ann re-clusters by the new centroids — "
                "order_by/zorder cannot also apply"
            )
        head = self._head()
        target = int(target_mb * 1024 * 1024)

        def dir_bytes(d: str) -> int:
            return sum(os.path.getsize(p) for p in self._data_files(d))

        if only_drifted is not None and not retrain_ann:
            raise ValueError(
                "compact: only_drifted= modifies retrain_ann — pass both"
            )
        if retrain_ann:
            # ANN index lifecycle (VERDICT r8 #4): a drifted corpus
            # (see ann_staleness) re-trains the coarse quantizer on the
            # CURRENT table and re-clusters every directory under it —
            # a full rewrite by construction (every file's cluster
            # assignment changes), priced accordingly: one training
            # pass + one range shuffle of the table.  The new centroids
            # replace the recorded quantizer; later appends cluster
            # against them; time travel to pre-retrain versions keeps
            # the OLD centroids (rollback restores them too).
            #
            # `only_drifted=thresh` makes the retrain PARTIAL (VERDICT
            # r9 #5): only directories whose manifest-recorded
            # staleness exceeds the threshold are trained on and
            # rewritten — O(drifted), not O(table).  Carried
            # directories stay clustered under their ORIGINAL codebook
            # by reference: the old centroids move into
            # `ann_codebooks` keyed by generation, `ann_gens` pins
            # each carried directory to its generation, and knn()
            # probes every generation with its own codebook
            # (_ann_gen_map) so file pruning stays exact — the
            # per-segment-quantizer design, not a stale-assignment
            # compromise.
            if not head.get("ann"):
                raise ValueError(
                    f"snapshot table {self.root}: retrain_ann needs an "
                    "ANN-indexed table (construct with ann_col=)"
                )
            if only_drifted is not None:
                sims = self._ann_dir_sims(head)
                known = [s for s in sims.values() if s is not None]
                if not known:
                    raise ValueError(
                        f"snapshot table {self.root}: only_drifted needs "
                        "recorded ANN manifests"
                    )
                base_sim = known[0]
                small = [
                    d
                    for d in head["files"]
                    if sims[d] is None
                    or (base_sim - sims[d]) > only_drifted
                ]
                if not small:
                    return None  # nothing drifted: no empty commit
            else:
                small = list(head["files"])
        else:
            small = [d for d in head["files"] if dir_bytes(d) < target]
            if len(small) < 2:
                return None
        keep = [d for d in head["files"] if d not in small]
        total = sum(dir_bytes(d) for d in small)
        n_out = n_files if n_files else max(1, math.ceil(total / target))
        src = self._read_paths(spark, head, small)
        ann_meta = None  # set only when the rewrite is ANN-(re)clustered
        if retrain_ann:
            from dbt_lab_spark.llm.similarity import ivf_centroids
            from dbt_lab_spark.plans.ann import cluster_order

            from pyspark.sql import functions as F

            col = head["ann"].get("col") or self._ann_live_col()
            row = src.select(F.size(col)).first()
            if row is None or row[0] is None:
                raise ValueError(
                    f"snapshot table {self.root}: retrain_ann has no "
                    "vectors to train on (table is empty)"
                )
            dim = row[0]
            cents = ivf_centroids(
                src,
                num_centroids=self.ann_lists,
                # retrain_iters=0 keeps the quantizer at its
                # deterministic id%C seeding — the oracle-replayable
                # form (q_ann_retrain); production retrains run Lloyd
                iters=retrain_iters,
                vec_col=col,
                id_col=head["ann"].get("id_col") or self.ann_id_col,
                dim=int(dim),
            )
            ann_meta = {**head["ann"], "centroids": [list(c) for c in cents]}
            src = cluster_order(src, cents, col, n_out)
        elif zorder:
            # Z-order clustering: quantile-bucket each column (skew-
            # robust), interleave the bucket bits into one sort key,
            # then range-partition + locally sort by it — each output
            # file covers a hyper-rectangle, tight stats on all columns.
            from pyspark.sql import functions as F

            from dbt_lab_spark.sources import zorder_key

            nb = 256
            probs = [i / nb for i in range(1, nb)]
            bucket_cols = []
            for c in zorder:
                bounds = sorted(set(src.approxQuantile(c, probs, 0.001)))
                arr = F.array(*[F.lit(b) for b in bounds])
                bucket_cols.append(
                    F.size(F.filter(arr, lambda b: b <= F.col(c).cast("double")))
                )
            src = (
                src.withColumn("__z", zorder_key(bucket_cols, bits=8))
                .repartitionByRange(n_out, "__z")
                .sortWithinPartitions("__z")
                .drop("__z")
            )
        elif order_by:
            # range-partition + in-file sort: each output file owns a
            # disjoint range of order_by, making footer stats tight
            from pyspark.sql import functions as F

            src = src.repartitionByRange(
                n_out, *[F.col(c) for c in order_by]
            ).sortWithinPartitions(*order_by)
        elif head.get("ann") and (head["ann"].get("col") or "") in src.columns:
            # ANN-indexed table (r8): re-cluster the rewrite by the
            # recorded centroids so the compacted files keep narrow
            # cluster ranges — otherwise every compaction would orphan
            # its files from the manifest and knn pruning would decay
            # to conservative full reads.  Costs the same one range
            # shuffle the explicit order_by path pays.
            from dbt_lab_spark.plans.ann import cluster_order

            ann_meta = head["ann"]
            src = cluster_order(
                src, ann_meta["centroids"], ann_meta["col"], n_out
            )
        else:
            # coalesce, not repartition: bin-packing needs no shuffle,
            # just fewer write tasks reading the small files back.
            src = src.coalesce(n_out)
        # DV lifecycle (r9 review): the rewrite reads through the
        # DV-applied view, physically excluding deleted rows for the
        # rewritten dirs — a sidecar whose targets all lived there is
        # DEAD, and inheriting it would tax every later read with the
        # anti-join and pin the DV dir against vacuum forever.  Keep
        # only sidecars still targeting a carried-over directory.
        live_dvs = [
            dvd
            for dvd in head.get("dvs") or []
            if keep and self._owning_dirs(keep, self._dv_files([dvd]))
        ]
        meta: dict = {"dvs": live_dvs}
        if retrain_ann:
            meta["ann"] = ann_meta  # the NEW quantizer replaces the old
            old_gen = int(head.get("ann_gen", 0))
            meta["ann_gen"] = old_gen + 1
            if only_drifted is not None and keep:
                # partial retrain: carried dirs stay pinned to the
                # codebook generation they were clustered under; the
                # superseded head codebook joins ann_codebooks so
                # their manifests keep pruning exactly
                old_gmap = head.get("ann_gens") or {}
                gmap = {d: int(old_gmap.get(d, old_gen)) for d in keep}
                books = {
                    **(head.get("ann_codebooks") or {}),
                    str(old_gen): head["ann"]["centroids"],
                }
                used = {str(g) for g in gmap.values()}
                meta["ann_gens"] = gmap
                meta["ann_codebooks"] = {
                    g: b for g, b in books.items() if g in used
                }
            else:
                # full retrain: one generation again — clear the maps
                # explicitly so inheritance doesn't resurrect them
                meta["ann_gens"] = {}
                meta["ann_codebooks"] = {}
        elif head.get("ann_gens"):
            # plain compaction on a multi-generation table: the
            # rewritten dir is clustered under the LATEST codebook
            # (unmapped); carried dirs keep their pins, compacted-away
            # dirs drop out of the map
            meta["ann_gens"] = {
                d: g
                for d, g in head["ann_gens"].items()
                if d in keep
            }
        op = (
            "compact(retrain_ann)"
            if retrain_ann
            else f"compact(target_mb={target_mb})"
        )
        with self._staging() as staged:
            # the rewrite materializes through _read_paths, so the new
            # dir is physically on the LOGICAL schema; its manifest
            # records fresh stats/blooms and, for an ANN-clustered
            # rewrite, the per-file cluster sets knn pruning needs
            d = self._stage(
                staged,
                spark,
                "compact",
                src,
                ann_meta["centroids"] if ann_meta is not None else None,
            )
            return self._publish(
                head, {"operation": op, "files": keep + [d], **meta}, staged
            )

    # write-side DV budget (VERDICT r7 #2): a dv-mode DELETE/MERGE whose
    # matched-row count exceeds this auto-materializes via scoped CoW
    # instead of growing the sidecars unboundedly — DVs are for POINT
    # deletes; a mass delete is cheaper rewritten once than anti-joined
    # on every subsequent read.  The count comes from the mutation's one
    # detection (merge's probe; delete_where's sidecar footer), and the
    # CoW fallback reuses the touched dirs that detection found.
    # Override per call with max_dv_rows=.
    DV_WRITE_MAX_ROWS = 500_000

    def merge(
        self,
        spark: SparkSession,
        source: DataFrame,
        on: list[str],
        mode: str = "cow",
        max_dv_rows: int | None = None,
        record_extra: dict | None = None,
    ) -> dict:
        """MERGE (upsert): matched target rows are replaced by their
        source row (UPDATE SET *), unmatched source rows are inserted —
        the Delta/Iceberg-style `MERGE INTO` for the snapshot log.

        `mode="dv"` is the MERGE-ON-READ form: matched target rows are
        tombstoned with a deletion-vector sidecar (their positions, no
        data file rewritten) and the ENTIRE source lands as one delta
        directory — updates become DV-delete + re-insert, the Delta
        deletion-vector MERGE mechanics.  A one-row upsert into a
        10k-directory table costs the probe below, one O(1) sidecar read
        from the touched directories only (none when nothing matched),
        and one O(source) delta write; `compact()` later folds the
        tombstones away.  Returns n_dirs_rewritten = 0.  The probe also
        counts the matched rows, so a DV merge over `max_dv_rows`
        decides before writing anything and goes straight to the CoW
        write below.

        CoW mechanics, the part that matters at 100 TB: only snapshot
        directories that actually CONTAIN matching keys are rewritten.
        One probe action (per-key source counts left-outer-joined to the
        table's key-only `_metadata.file_path` projection, grouped by
        file) finds them and checks key uniqueness: a count above 1 is
        the SQL MERGE multiple-match error, every non-null file is
        touched.  The write is `touched rows ▷ source ∪ source` — with
        unique keys, updates ∪ inserts IS the source, null keys
        included — and every untouched directory is carried into the
        new version by reference: an update touching 1 of 10k
        directories rewrites 1.  Both modes run this one probe.
        Source columns must match the table's
        (checked driver-side, before any job).  History is preserved
        until `vacuum`.

        UPSERT-BY-KEY contract (deliberate, both modes): the table is
        treated as keyed on `on` — ALL target rows matching a source
        key are replaced by that ONE source row, so target-side
        duplicate keys (creatable via append) COLLAPSE to one row.
        SQL MERGE / Delta would instead update each matched row,
        preserving multiplicity; this engine's merge is the
        CDC/upsert shape (merge_stream_batch), where per-key
        convergence is the point.  Pinned in tests/test_wave41.py —
        rows that should stay duplicated must not be merged on their
        duplicate key.

        Returns {"version", "n_dirs_rewritten", "n_dirs_total"}."""
        from pyspark.sql import functions as F

        head = self._head()
        dup_err = "merge: source has duplicate keys for ON columns"
        table_cols = head.get("columns")
        if table_cols is not None and set(source.columns) != set(table_cols):
            raise ValueError(
                f"merge: source columns {sorted(source.columns)} != table "
                f"columns {sorted(table_cols)} (evolve with append first)"
            )
        if "schema_json" in head:
            # Name-set equality isn't enough: a type-divergent source
            # (int vs long) would write a directory whose physical types
            # differ from the recorded schema, breaking the homogeneous
            # fast-path read later.  Cast to the recorded types instead.
            from pyspark.sql import types as T

            rec_schema = T.StructType.fromJson(json.loads(head["schema_json"]))
            src_types = {f.name: f.dataType for f in source.schema.fields}
            diverged = [
                f.name for f in rec_schema.fields if src_types.get(f.name) != f.dataType
            ]
            if diverged:
                source = source.select(
                    *[
                        F.col(f.name).cast(f.dataType).alias(f.name)
                        for f in rec_schema.fields
                    ]
                )
        if mode not in ("cow", "dv"):
            raise ValueError(f"merge: unknown mode {mode!r}")
        self._validate(source, head.get("constraints"))
        dv_budget = self.DV_WRITE_MAX_ROWS if max_dv_rows is None else max_dv_rows
        probe = (
            source.groupBy(*on)
            .agg(F.count(F.lit(1)).alias("__n"))
            .join(
                self._read_paths(spark, head, head["files"], with_file=True)
                .select("__f", *on),
                on,
                "left_outer",
            )
            .groupBy("__f")
            .agg(F.max("__n").alias("__n"), F.count(F.lit(1)).alias("__m"))
            .collect()
        )
        if any(r["__n"] > 1 for r in probe):
            raise ValueError(dup_err)
        hits = [r for r in probe if r["__f"] is not None]
        touched = self._touched_dirs(head, [r["__f"] for r in hits])
        n_updated = sum(r["__m"] for r in hits)
        if mode == "dv" and n_updated <= dv_budget:
            dvs = list(head.get("dvs") or [])
            with self._staging() as staged:
                if n_updated:
                    matched = (
                        self._read_paths(
                            spark, head, touched, with_file=True, with_pos=True
                        )
                        .select("__f", "__ri", *on)
                        .join(source.select(*on), on, "left_semi")
                        .select(
                            self._norm_file_col(F.col("__f")).alias("f"),
                            F.col("__ri").alias("ri"),
                        )
                    )
                    dvs.append(self._stage(staged, spark, "dv", matched, sidecar=True))
                d = self._stage(staged, spark, "delta", source)
                v = self._publish(
                    head,
                    {
                        "operation": f"merge(on={on}, mode=dv)",
                        "files": head["files"] + [d],
                        "dvs": dvs,
                        **(record_extra or {}),
                    },
                    staged,
                )
            return {
                "version": v,
                "n_dirs_rewritten": 0,
                "n_dirs_total": len(head["files"]),
                "n_updated": int(n_updated),
            }
        # cow mode, or a DV merge over its budget: a mass update is
        # cheaper materialized once than tombstoned and anti-joined on
        # every later read
        untouched = [d for d in head["files"] if d not in touched]
        new_rows = (
            self._read_paths(spark, head, touched)
            .join(source, on, "left_anti")
            .unionByName(source)
            if touched
            else source
        )
        op = (
            f"merge(on={on}, mode=dv->cow: matched rows > max_dv_rows)"
            if mode == "dv"
            else f"merge(on={on})"
        )
        with self._staging() as staged:
            d = self._stage(staged, spark, "merge", new_rows)
            v = self._publish(
                head,
                {"operation": op, "files": untouched + [d], **(record_extra or {})},
                staged,
            )
        return {
            "version": v,
            "n_dirs_rewritten": len(touched),
            "n_dirs_total": len(head["files"]),
        }

    def delete_where(
        self,
        spark: SparkSession,
        condition,
        mode: str = "cow",
        max_dv_rows: int | None = None,
    ) -> dict:
        """Row-level DELETE — the third leg of the DML triad beside
        `append` and `merge`, in two physical strategies:

        `mode="cow"` (copy-on-write): rows matching `condition` (a
        Column or SQL string) are removed by rewriting ONLY the
        snapshot directories that contain any matching row; directories
        with no matches are carried into the new version by reference.
        Detection is one metadata-projected scan (`_metadata.file_path`
        + the condition — Catalyst prunes the read to the condition's
        columns) grouped by file, which also counts the deleted rows; a
        delete hitting 1 of 10k directories rewrites 1 directory, and
        a predicate matching nothing commits nothing (no empty
        version).  History is preserved for time travel until
        `vacuum`.

        `mode="dv"` (merge-on-read DELETION VECTORS — VERDICT r6 #1):
        NO data file is rewritten.  The matched rows' positions
        (file, `_metadata.row_index`) are written as a small parquet
        sidecar and the new version's manifest records it in `dvs`;
        every read of this and later versions finishes with one
        broadcast anti-join against the DV rows (_read_paths), and
        `compact()` materializes the deletes away by rewriting through
        the DV-applied view.  This is the scale-correct shape for
        GDPR-style point deletes at 100 TB: a one-row delete costs one
        metadata-projected scan plus an O(1) sidecar write, instead of
        rewriting every touched file.  Time travel is exact: each
        version's record carries its own `dvs` list, so pre-delete
        versions read the rows back.  The staged sidecar is dv mode's
        only detection: its footer row count is checked against
        `max_dv_rows`, and over budget its `f` column names the touched
        directories for the cow rewrite, so no second scan runs.

        Returns {"version" (None if no-op), "n_dirs_rewritten",
        "n_dirs_total", "n_deleted"} — `n_dirs_rewritten` is 0 in dv
        mode unless it fell back to cow."""
        from pyspark.sql import functions as F

        head = self._head()
        cond = F.expr(condition) if isinstance(condition, str) else condition
        if mode not in ("cow", "dv"):
            raise ValueError(f"delete_where: unknown mode {mode!r}")
        dv_budget = self.DV_WRITE_MAX_ROWS if max_dv_rows is None else max_dv_rows
        noop = {
            "version": None,
            "n_dirs_rewritten": 0,
            "n_dirs_total": len(head["files"]),
            "n_deleted": 0,
        }
        if mode == "dv":
            matched = (
                self._read_paths(
                    spark, head, head["files"], with_file=True, with_pos=True
                )
                .filter(cond)
                .select(
                    self._norm_file_col(F.col("__f")).alias("f"),
                    F.col("__ri").alias("ri"),
                )
            )
            with self._staging() as staged:
                d = self._stage(staged, spark, "dv", matched, sidecar=True)
                n_deleted = _dir_num_rows(d)
                if n_deleted == 0:
                    return noop
                if n_deleted <= dv_budget:
                    v = self._publish(
                        head,
                        {
                            "operation": "delete_where(dv)",
                            "files": list(head["files"]),
                            "dvs": list(head.get("dvs") or []) + [d],
                        },
                        staged,
                    )
                    return {**noop, "version": v, "n_deleted": int(n_deleted)}
                # over budget: the sidecar was the probe — it names the
                # touched files, and leaving the scope removes it
                touched = self._touched_dirs(head, self._dv_files([d]))
        else:
            hits = (
                self._read_paths(spark, head, head["files"], with_file=True)
                .filter(cond)
                .groupBy("__f")
                .count()
                .collect()
            )
            touched = self._touched_dirs(head, [r["__f"] for r in hits])
            if not touched:
                return noop
            n_deleted = sum(r["count"] for r in hits)
        untouched = [d for d in head["files"] if d not in touched]
        kept_rows = self._read_paths(spark, head, touched).filter(
            ~F.coalesce(cond, F.lit(False))
        )
        op = (
            "delete_where(dv->cow: matched rows > max_dv_rows)"
            if mode == "dv"
            else "delete_where"
        )
        with self._staging() as staged:
            d = self._stage(staged, spark, "delete", kept_rows)
            v = self._publish(
                head, {"operation": op, "files": untouched + [d]}, staged
            )
        return {
            "version": v,
            "n_dirs_rewritten": len(touched),
            "n_dirs_total": len(head["files"]),
            "n_deleted": int(n_deleted),
        }

    def change_feed(
        self, spark: SparkSession, from_version: int, to_version: int | None = None
    ) -> DataFrame:
        """CDC between two versions: the table's rows with a `_change`
        column ('insert' for rows present at `to_version` but not
        `from_version`, 'delete' for the reverse; an update appears as
        its delete+insert pair — the Delta change-data-feed shape,
        recovered from the log after the fact).

        Manifest-powered: snapshot directories SHARED by both versions
        contribute identical immutable rows to both sides and cancel
        exactly, so they are never read — after an append the feed
        scans just the delta directory; after a merge, just the
        rewritten and replaced directories.  The multiset diff
        (exceptAll) over the remaining directories is exact regardless
        of duplicates."""
        from pyspark.sql import functions as F

        old = self._rec_at(from_version)
        new = self._head(to_version)
        shared = set(old["files"]) & set(new["files"])
        # Deletion vectors change a directory's EFFECTIVE rows without
        # changing its path, so a dir is only cancelable when no DV
        # sidecar that differs between the two versions touches it.
        diff_dvs = set(old.get("dvs") or []) ^ set(new.get("dvs") or [])
        if diff_dvs and shared:
            shared -= set(self._owning_dirs(list(shared), self._dv_files(diff_dvs)))
        old_only = [d for d in old["files"] if d not in shared]
        new_only = [d for d in new["files"] if d not in shared]

        def _read(rec: dict, dirs: list[str]) -> DataFrame | None:
            return self._read_paths(spark, rec, dirs) if dirs else None

        o, n = _read(old, old_only), _read(new, new_only)
        if o is None and n is None:
            base = self._read_paths(spark, new, new["files"]).filter(
                F.lit(False)
            )
            return base.withColumn("_change", F.lit("insert"))
        if o is None:
            return n.withColumn("_change", F.lit("insert"))
        if n is None:
            return o.withColumn("_change", F.lit("delete"))
        if o.columns != n.columns or o.schema != n.schema:
            # feed across a schema-evolution boundary: align the old
            # side through the LOGICAL rename history (ADVICE r6 —
            # null-filling a renamed column made the feed emit NULLs
            # where a head read returns real values), cast for
            # widenings, and fall back to typed nulls only for columns
            # genuinely added after from_version.
            to_hi = new["version"]
            ren = self._compose_renames(
                [
                    self._rec_at(v)
                    for v in self.versions()
                    if from_version < v <= to_hi
                ]
            )  # name-at-from_version -> name-at-to_version, composed
            # over FOLDED records — the per-commit "renames" key can be
            # delta-encoded as a k_patch when consecutive evolves both
            # carry one (r9 review), so raw record files are not a safe
            # source; folded records always expose the full dict
            inv = {v: k for k, v in ren.items()}
            o = o.select(
                *[
                    F.col(inv.get(c, c))
                    .cast(n.schema[c].dataType)
                    .alias(c)
                    if inv.get(c, c) in o.columns
                    else F.lit(None).cast(n.schema[c].dataType).alias(c)
                    for c in n.columns
                ]
            )
        return n.exceptAll(o).withColumn("_change", F.lit("insert")).unionByName(
            o.exceptAll(n).withColumn("_change", F.lit("delete"))
        )

    def change_stream(
        self,
        spark: SparkSession,
        from_version: int = -1,
        to_version: int | None = None,
    ):
        """STREAMING change-feed source over the segmented snapshot log
        (VERDICT r9 #4 — the Delta `readChangeFeed` analogue): a
        generator of `(version, DataFrame)` micro-batches, one per
        commit in `(from_version, to_version]`, each frame that
        commit's change_feed slice (`_change` insert/delete rows) plus
        a `_version` column.  The per-version record files make each
        step O(that commit's delta): directories shared with the
        parent cancel exactly and are never read (change_feed's
        manifest-powered diff), so tailing a 100 TB table costs the
        appended/rewritten data only, never the table.

        EXACTLY-ONCE consumption: the version IS the batch id — feed
        each frame into `append_stream_batch(frame, batch_id=version)`
        (or `merge_stream_batch`) on the consumer table, and a replay
        of the generator after a consumer crash becomes a chain of
        recorded no-ops (pinned in tests/test_wave42.py).  Incremental
        tailing: call again with `from_version=` the last version
        consumed; the generator is lazy, so a consumer loop that
        commits per batch checkpoints its own offset in the sink's
        batch-id record.

        Metadata-only commits (add_constraint, evolve) yield EMPTY
        frames — the version sequence stays contiguous so offset
        bookkeeping never skips.  Versions vacuumed out of retention
        raise: the consumer fell behind the vacuum contract and the
        diffs are no longer resolvable (re-seed from a full read of
        the oldest retained version instead)."""
        from pyspark.sql import functions as F

        vs = self.versions()
        if not vs:
            return
        head = vs[-1] if to_version is None else to_version
        base = vs[0]
        if from_version < base - 1 and base > 0:
            raise ValueError(
                f"snapshot table {self.root}: change_stream from version "
                f"{from_version} is out of retention (oldest retained "
                f"record is {base}) — vacuum truncated the history; "
                "re-seed consumers from a full read"
            )
        for v in vs:
            if v <= from_version or v > head:
                continue
            if v == 0:
                rec = self._rec_at(0)
                frame = self._read_paths(spark, rec, rec["files"]).withColumn(
                    "_change", F.lit("insert")
                )
            else:
                frame = self.change_feed(spark, v - 1, v)
            yield v, frame.withColumn(
                "_version", F.lit(v).cast("long")
            )

    # -- lifecycle ---------------------------------------------------------

    # an UNREFERENCED v* directory younger than this is presumed to be
    # an in-flight writer's not-yet-committed output and is NOT
    # reclaimed (ADVICE r8: vacuum used to delete a dir a writer had
    # just written but not yet published, leaving the subsequently
    # published head unreadable) — the Delta-style retention grace.
    # Override per call with grace_s= (0.0 in single-writer jobs).
    VACUUM_GRACE_S = 600.0

    def vacuum(
        self, keep_last: int = 1, grace_s: float | None = None
    ) -> list[str]:
        """Delete snapshot directories unreferenced by the last
        `keep_last` versions, truncating record files and checkpoints
        to match — the storage-reclaim step after time-travel
        retention expires.  Returns the removed directories.

        Exclusion: vacuum holds `_vacuum.lock` (protocol
        put_if_absent) for its whole run; every commit waits on the
        lock before publishing, and rollback — the one commit kind
        that references non-head directories — additionally holds the
        lock across its target-read-to-publish window, so vacuum can
        never delete a directory between a committer reading it and
        referencing it.  Unreferenced directories younger than the
        grace window are kept (in-flight writers, ADVICE r8).

        RETENTION CONTRACT for readers: a DataFrame returned by
        read(version=old) lazily lists its files at action time —
        vacuum only reclaims versions older than the last `keep_last`,
        so long-running consumers must either finish within the
        retention they operate under or read versions >= head -
        keep_last + 1.  This is the standard lakehouse vacuum
        contract (SCALING.md §vacuum).

        `grace_s=0.0` disables the in-flight-writer grace entirely: a
        concurrent writer's just-written, not-yet-published directory
        becomes reclaimable the moment vacuum sweeps.  Commits
        re-check this lock immediately before publishing (ADVICE r9),
        which closes the published-head-unreadable race, but zero
        grace remains a single-writer-at-a-time convenience for tests
        and maintenance windows — production concurrent writers keep
        the default."""
        import shutil

        if keep_last < 1:
            raise ValueError("vacuum: keep_last must be >= 1")
        grace = self.VACUUM_GRACE_S if grace_s is None else float(grace_s)
        self._acquire_vacuum_lock(b"vacuum")
        try:
            # settle: a committer that passed its lock check just
            # before we acquired publishes within this window, so the
            # version listing below observes it
            time.sleep(0.05)
            vs = self.versions()
            if not vs:
                return []
            # even when no history is truncated, the unreferenced-dir
            # sweep still runs: crashed writers' aged-out orphans are
            # reclaimable on a table with a short history too
            kept = vs[-keep_last:] if len(vs) > keep_last else vs
            # a checkpoint AT the oldest kept version must exist before
            # older record files are deleted, or no base would remain
            # to fold it from
            if kept[0] > vs[0] and self._load_ckpt(kept[0]) is None:
                self._write_ckpt(kept[0])
            kept_recs = [self._rec_at(v) for v in kept]
            referenced = {d for r in kept_recs for d in r["files"]} | {
                d for r in kept_recs for d in (r.get("dvs") or [])
            }
            # truncate history first: record files and checkpoints
            # below the oldest kept version (its own checkpoint is the
            # new base), newest first, and only then reclaim their
            # directories — a vacuum interrupted at any delete leaves
            # every listed version readable (an unbroken prefix of the
            # old history plus the kept versions) and orphans the next
            # vacuum sweeps
            doomed = []
            for key in self.protocol.list("_log"):
                name = key.rsplit("/", 1)[-1]
                v = None
                if name.endswith(".json") and name[:-5].isdigit():
                    v = int(name[:-5])
                elif name.startswith("_ckpt_") and name.endswith(".json"):
                    v = int(name[len("_ckpt_"):-5])
                if v is not None and v < kept[0]:
                    doomed.append((v, key))
            for _, key in sorted(doomed, reverse=True):
                self.protocol.delete(key)
            now = time.time()
            removed = []
            for entry in sorted(os.listdir(self.root)):
                p = os.path.join(self.root, entry)
                if (
                    not entry.startswith("v")
                    or not os.path.isdir(p)
                    or p in referenced
                ):
                    continue
                try:
                    age = now - os.path.getmtime(p)
                except OSError:
                    continue
                if age < grace:
                    continue  # possibly an in-flight writer's output
                # heartbeat before each potentially-slow rmtree: at the
                # module's 100 TB posture a sweep over many directories
                # can outlive VACUUM_LOCK_STALE_S, and staleness must
                # measure liveness, not sweep length (ADVICE r9)
                self._refresh_vacuum_lock(b"vacuum")
                shutil.rmtree(p)
                try:
                    os.unlink(self._manifest_path(p))
                except OSError:
                    pass
                removed.append(p)
            # tidy directory name claims whose directory is gone
            # (names never recur — versions count up monotonically).
            # The same grace window as data dirs applies (r9 review): a
            # fresh claim belongs to an in-flight _new_dir whose Spark
            # write has not landed yet — deleting it would let a second
            # writer claim the SAME name.  put_if_absent temp files
            # (".tmp." infix) are never touched: deleting one mid-link
            # crashes the writer.
            for key in self.protocol.list(""):
                if not key.startswith("_claim_") or ".tmp." in key:
                    continue
                if os.path.isdir(
                    os.path.join(self.root, key[len("_claim_"):])
                ):
                    continue
                st = self.protocol.stat(key)
                if st is not None and now - st[0] < grace:
                    continue
                self.protocol.delete(key)
            return removed
        finally:
            self.protocol.delete(self._VACUUM_LOCK)
