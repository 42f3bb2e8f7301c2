"""txlog: a minimal transaction-log table format for ACID mutations.

SURVEY §7 lists "transactional mutation" as the one hard part of the
reference's warehouse surface that plain parquet cannot express: the
reference wraps its MERGE / UPDATE / DELETE statements in commit/rollback
(/root/reference/epa_ingestion.py:628-632) and relies on the warehouse for
snapshot isolation. ``operators.mutate.atomic_overwrite`` covers the
single-table swap; this module closes the gap properly with an original,
deliberately small implementation of the *publicly documented* design
shared by Delta Lake and Apache Iceberg (both open protocols): an ordered
log of atomic JSON commit files over immutable parquet data files.

Layout (all under the table root):

    <root>/part-<uuid>.parquet          immutable data files
    <root>/_txlog/00000000000n.json     commit n (atomically published)

Each commit records the actions ``{"add": [files...], "remove": [files...]}``
plus the table schema. The live file set at version v is the replay of
commits 0..v. Readers list the log (metadata-scale, driver-side — same as
Delta), pick a version, and hand Spark the live files; writers stage data
files first and publish the commit LAST via an exclusive create, so:

- **Atomicity / crash safety**: a writer dying after staging parquet but
  before publishing its commit leaves orphan files and an untouched log —
  readers never see a partial write.
- **Snapshot isolation**: data files are immutable and commits are
  append-only, so a reader replaying version v is unaffected by concurrent
  writers; ``read(version=...)`` is time travel for free.
- **Optimistic concurrency**: two writers racing to commit version n+1
  collide on the exclusive create; the loser gets ``ConcurrentCommitError``
  and must re-read + retry (Delta's rename-if-absent LogStore contract).
  The primitive is abstracted behind ``CommitProtocol`` (r12):
  ``PosixLinkCommit`` (temp + fsync + link — atomic visibility AND
  exclusive create) locally, ``ConditionalPutCommit`` for object stores
  (S3 ``If-None-Match: *``, GCS ``ifGenerationMatch=0``), exactly the
  put-if-absent split Delta's LogStore documents.

Scale notes (100 TB): all driver-side work here is METADATA-scale (one
directory listing + one JSON per commit; the live-file list is bounded by
file count, not rows). Every data-moving step is a distributed Spark job.
``merge`` is file-granular copy-on-write: only files that actually contain
matching keys are rewritten (found with a broadcast semi-join on
``_metadata.file_path``), so a 100-row upsert into a 100 TB table rewrites
a handful of files, not the table — the same plan shape as Delta's MERGE.
"""

from __future__ import annotations

import base64
import functools
import json
import os
import time
import uuid
from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructField, StructType

_LOG_DIR = "_txlog"
_PAD = 12  # zero-padded version width -> lexicographic == numeric order


class ConcurrentCommitError(RuntimeError):
    """Another writer published this version first; re-read and retry."""


class CommitProtocol:
    """The PUBLISH primitive the txlog's atomicity rests on (r11 VERDICT
    next-round #8): make ``payload`` visible at ``path`` such that

    1. visibility is ATOMIC — no reader ever observes a partial/torn
       payload, under any crash point inside ``publish``;
    2. creation is EXCLUSIVE — if another writer published ``path``
       first, raise ``FileExistsError`` (the caller maps it to
       ``ConcurrentCommitError``; this is the optimistic-concurrency
       linearization point, Delta's rename-if-absent LogStore contract).

    ``PosixLinkCommit`` is the local-filesystem instance.
    ``ConditionalPutCommit`` is the object-store shape: S3 now supports
    ``If-None-Match: *`` on PUT, GCS ``ifGenerationMatch=0``, Azure Blob
    ``If-None-Match: *`` — each a server-side put-if-absent that gives
    both properties in one request (object PUTs are already all-or-
    nothing). The contract test (tests/test_txlog.py) drives a TxTable
    through a crash simulated INSIDE publish and through a dict-backed
    conditional put, proving readers never see a torn commit and racing
    writers serialize."""

    def publish(self, path: str, payload: str) -> None:
        raise NotImplementedError


class PosixLinkCommit(CommitProtocol):
    """Write-temp + fsync + ``os.link`` into place. The link supplies
    BOTH contract properties on POSIX: it fails EEXIST if the path
    exists (exclusive), and the name appears only after the payload is
    durable (atomic) — a crash anywhere leaves either no visible commit
    or a complete one, never torn bytes. (A bare ``O_CREAT|O_EXCL``
    open-then-write — the pre-r12 publish — had a window where the name
    existed with partial bytes: a concurrently-listing reader could
    parse a torn commit, and a crash inside the write bricked the
    version number for every retry. streaming/generations.py documented
    and fixed that failure mode first; this is the same fix at the
    commit layer.)"""

    def publish(self, path: str, payload: str) -> None:
        # dot-prefixed tmp name: versions() skips dotfiles, so a crash
        # between write and the finally-unlink can never leave a name a
        # log listing might parse, and vacuum() can sweep the orphans by
        # pattern (r12 ADVICE — the old `<version>.json.<pid>.tmp` names
        # were orphaned forever: vacuum only reclaimed *.parquet)
        d, base = os.path.split(path)
        tmp = os.path.join(d, f".{base}.{os.getpid()}.{uuid.uuid4().hex[:8]}.tmp")
        with open(tmp, "w") as f:
            f.write(payload)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, path)
            # directory-entry durability: the payload bytes are fsync'd,
            # but the NAME lives in the directory — without fsyncing the
            # directory fd a power loss can un-publish a commit this
            # writer already observed as durable (r12 ADVICE)
            try:
                dfd = os.open(d or ".", os.O_RDONLY)
                try:
                    os.fsync(dfd)
                finally:
                    os.close(dfd)
            except OSError:
                pass  # non-POSIX dir-fsync (or denied): best effort
        finally:
            try:
                os.unlink(tmp)
            except FileNotFoundError:
                pass


class ConditionalPutCommit(CommitProtocol):
    """Object-store commit: one conditional PUT per commit file.
    ``put_if_absent(path, payload)`` must write atomically and raise
    ``FileExistsError`` when the key already exists — the semantics of
    S3 ``PutObject`` + ``If-None-Match: *`` (412), GCS insert +
    ``ifGenerationMatch=0``, Azure Put Blob + ``If-None-Match: *``.
    Object PUTs are all-or-nothing by the stores' own contracts, so
    atomic visibility is inherited; the conditional header supplies the
    exclusive-create arbitration."""

    def __init__(self, put_if_absent):
        if not callable(put_if_absent):
            raise ValueError("put_if_absent must be callable(path, payload)")
        self._put = put_if_absent

    def publish(self, path: str, payload: str) -> None:
        self._put(path, payload)


_OPS = {
    "=": lambda c, v: c == v,
    "==": lambda c, v: c == v,
    "<": lambda c, v: c < v,
    "<=": lambda c, v: c <= v,
    ">": lambda c, v: c > v,
    ">=": lambda c, v: c >= v,
    # v is a collection; the probe shape of every cell/bucket-pruned
    # read (IVF cells, token buckets, SemDeDup hit cells)
    "in": lambda c, v: c.isin(_in_probe(v)),
}


def _in_probe(v) -> list:
    """Normalize an 'in' probe value. A bare str/bytes/bytearray would
    silently explode into per-character membership (list("abc") ==
    ['a','b','c']; list(bytearray) == ints) both here and in
    _may_match's bound check — wrong results with no error — so treat
    it as a single-element probe instead."""
    if isinstance(v, (str, bytes, bytearray)):
        return [bytes(v) if isinstance(v, bytearray) else v]
    return [bytes(x) if isinstance(x, bytearray) else x for x in v]


def _may_match(stats: dict | None, filters) -> bool:
    """File-level pruning: False only when the committed [min, max] PROVES
    the conjunction is empty for this file. Missing stats (old commits,
    unindexed column types, all-null columns) keep the file — skipping
    must never change results. Null rows can't satisfy any comparison
    predicate (SQL three-valued logic), so bounds over non-null values
    are sufficient evidence."""
    if not stats:
        return True
    for col, op, v in filters:
        bounds = stats.get(col)
        if not isinstance(bounds, (list, tuple)) or len(bounds) != 2:
            continue  # absent, or a reserved non-bounds key ("__rows")
        mn, mx = bounds
        if mn != mn or mx != mx:
            # NaN bound (double column containing NaN: Spark's max()
            # returns NaN, which sorts greatest): every comparison with
            # NaN is False, so e.g. the 'in' probe's any(mn <= x <= mx)
            # would prune a file whose rows DO match — treat as no
            # bounds. Recording already drops NaN bounds; this guards
            # commits written before that fix.
            continue
        if hasattr(v, "isoformat"):
            # temporal bounds are stored as isoformat strings, which
            # order chronologically; normalize the probe the same way
            v = v.isoformat()
            if isinstance(mn, str) and len(v) != len(mn):
                # granularity mismatch (e.g. a date probe against
                # timestamp bounds): lexicographic compare would prune
                # files whose rows the residual predicate WOULD match
                # (date casts to midnight) — keep the file
                continue
        try:
            if op in ("=", "==") and (v < mn or v > mx):
                return False
            if op == "<" and mn >= v:
                return False
            if op == "<=" and mn > v:
                return False
            if op == ">" and mx <= v:
                return False
            if op == ">=" and mx < v:
                return False
            if op == "in" and not any(mn <= x <= mx for x in _in_probe(v)):
                return False
        except TypeError:
            continue  # incomparable (schema drift): keep the file
    bloom = stats.get("__bloom")
    if isinstance(bloom, dict):
        for col, op, v in filters:
            if op not in ("=", "==", "in"):
                continue  # blooms answer membership, not ranges
            ent = bloom.get(col)
            if not isinstance(ent, dict):
                continue  # column not bloom-indexed in this file
            values = _in_probe(v) if op == "in" else [
                bytes(v) if isinstance(v, bytearray) else v
            ]
            if not _bloom_may_contain(ent, values):
                return False
    return True


def _bloom_hash_base(value, typ: str) -> int | None:
    """Driver-side mirror of ``F.xxhash64(col)`` for a probe value —
    None when the value's Python type cannot be the column's type (a
    mistyped probe matches no row via the residual filter anyway, but
    pruning on a wrong-type hash would be UNsound, so don't)."""
    from sf_epa_data_ingestion_spark.functions.refhash import (
        xxh64_long, xxh64_string,
    )

    if typ == "string":
        return xxh64_string(value) if isinstance(value, str) else None
    if typ == "long":
        if isinstance(value, bool) or not isinstance(value, int):
            return None
        if not (-(1 << 63) <= value < (1 << 63)):
            return None  # out of long range: bounds already prune
        return xxh64_long(value)
    if typ == "binary":
        from sf_epa_data_ingestion_spark.functions.refhash import xxh64_bytes

        if isinstance(value, (bytes, bytearray)):
            return xxh64_bytes(bytes(value))
        return None
    return None


@functools.lru_cache(maxsize=65536)
def _bloom_positions_py(value, typ: str, m: int, k: int) -> tuple | None:
    """The k bit positions the indexing expression sets for ``value`` —
    pos_i = pmod(xxhash64(value, CAST(i AS LONG)), m), mirrored exactly
    (seed-chained XXH64; parity pinned in tests/test_bloom.py).
    Memoized: positions depend only on (value, typ, m, k), but the probe
    loop evaluates them per FILE — without the cache a 500-digest probe
    against 1000 files would pay ~3M pure-Python hash calls."""
    from sf_epa_data_ingestion_spark.functions.refhash import xxh64_long

    h = _bloom_hash_base(value, typ)
    if h is None:
        return None
    return tuple(xxh64_long(i, seed=h) % m for i in range(k))


def _bloom_may_contain(ent: dict, values) -> bool:
    """True unless the bitmap PROVES no probe value is in the file.
    Malformed/unknown entries (future format rev, truncated bitmap)
    keep the file — skipping must never change results."""
    try:
        m, k, typ = int(ent["m"]), int(ent["k"]), ent["t"]
        bits = base64.b64decode(ent["b"])
        if m <= 0 or k <= 0 or len(bits) * 8 < m:
            # non-positive m would divide-by-zero (m=0) or negative-index
            # the bitmap (m<0) and could wrongly prune — malformed: keep
            return True
    except (KeyError, TypeError, ValueError):
        return True
    for v in values:
        if v is None:
            return True  # NULL probe: not prunable here
        try:
            pos = _bloom_positions_py(v, typ, m, k)
        except TypeError:
            return True  # unhashable probe value: keep the file
        if pos is None:
            return True  # untyped/mistyped probe: keep the file
        if all(bits[p >> 3] & (1 << (p & 7)) for p in pos):
            return True  # this value may be present
    return False


class TxTable:
    """A parquet table with an atomic JSON commit log (see module doc)."""

    def __init__(self, spark: SparkSession, root: str,
                 commit_protocol: CommitProtocol | None = None):
        self.spark = spark
        self.root = root
        self.log_dir = os.path.join(root, _LOG_DIR)
        # how commit files become visible: posix link locally; inject a
        # ConditionalPutCommit for object stores (see CommitProtocol)
        self._commit_protocol = commit_protocol or PosixLinkCommit()
        # published commits are immutable, so parsed JSON is cached per
        # instance — replays cost O(new commits) file reads, which keeps
        # the streaming sink's per-batch overhead flat instead of O(n^2)
        # over the log lifetime
        self._commit_cache: dict[int, dict] = {}
        # latest-map-wins actions (bloom/constraints) resolved
        # incrementally: {key: (scanned_tip_version, value)}. Every
        # write path consults both maps, so without this a long-lived
        # streaming table pays a full O(log) walk per append even with
        # NO bloom/constraint configured (r11 ADVICE) — with it, each
        # call walks only the commits published since the last call.
        self._map_cache: dict[str, tuple[int, dict]] = {}

    # -- log plumbing -------------------------------------------------------

    def versions(self) -> list[int]:
        if not os.path.isdir(self.log_dir):
            return []
        out = []
        for f in os.listdir(self.log_dir):
            if f.endswith(".json") and not f.startswith("."):
                try:
                    out.append(int(f[: -len(".json")]))
                except ValueError:
                    continue
        return sorted(out)

    def exists(self) -> bool:
        return bool(self.versions())

    def _commit_path(self, version: int) -> str:
        return os.path.join(self.log_dir, f"{version:0{_PAD}d}.json")

    def _read_commit(self, version: int) -> dict:
        c = self._commit_cache.get(version)
        if c is None:
            with open(self._commit_path(version)) as f:
                c = json.load(f)
            self._commit_cache[version] = c
        return c

    def _publish(
        self,
        version: int,
        actions: dict,
        schema_json: str,
        txn: dict | None = None,
        op: str | None = None,
    ) -> None:
        """Atomically publish commit ``version``; the exclusive create is
        the linearization point of the whole write. ``txn`` is an optional
        idempotence marker ``{"app": str, "batch": int}`` — the streaming
        sink uses it to make replayed micro-batches no-ops (the same
        design as Delta's txn/appId action). ``op`` names the logical
        operation for ``describe_history()`` (Delta's operation field).

        The visibility/arbitration mechanics live in the table's
        ``CommitProtocol`` (posix link locally, conditional put on an
        object store); this method only assembles the payload and maps
        the protocol's exclusive-create failure to
        ``ConcurrentCommitError``."""
        os.makedirs(self.log_dir, exist_ok=True)
        doc = {"version": version, "ts": int(time.time() * 1000),
               "schema": schema_json, **actions}
        if op is not None:
            doc["op"] = op
        if txn is not None:
            doc["txn"] = txn
        payload = json.dumps(doc, indent=0)
        try:
            self._commit_protocol.publish(self._commit_path(version), payload)
        except FileExistsError as e:
            raise ConcurrentCommitError(
                f"version {version} already committed at {self.root}"
            ) from e

    def _snapshot_full(
        self, version: int | None = None
    ) -> tuple[int, list[str], StructType, dict[str, dict]]:
        vs = self.versions()
        if not vs:
            raise FileNotFoundError(f"no txlog table at {self.root}")
        v = vs[-1] if version is None else version
        if v not in vs:
            raise ValueError(f"version {v} not in log (have {vs[0]}..{vs[-1]})")
        live: set[str] = set()
        stats: dict[str, dict] = {}
        schema_json = None
        for i in vs:
            if i > v:
                break
            c = self._read_commit(i)
            for f in c.get("remove", []):
                live.discard(f)
                stats.pop(f, None)
            live.update(c.get("add", []))
            stats.update(c.get("stats", {}))
            schema_json = c.get("schema") or schema_json
        return v, sorted(live), StructType.fromJson(json.loads(schema_json)), stats

    def _latest_map(self, key: str) -> dict:
        """Latest-commit-wins full-map action (``bloom``/``constraints``),
        resolved INCREMENTALLY: only commits newer than the last scan are
        read (commit numbers are append-only monotone, so the cached
        prefix can never change). Keeps the per-append metadata cost of
        the constraint + bloom checks O(new commits), not O(log)."""
        vs = self.versions()
        # empty-log sentinel is -1, not 0: caching (0, {}) before any
        # commit exists would collide with a real v0 tip once the CREATE
        # commit lands, returning the stale empty map without ever
        # scanning v0 — the exact maps-in-CREATE-commit path the -1
        # cursor below protects (r13 ADVICE).
        tip = vs[-1] if vs else -1
        cached = self._map_cache.get(key)
        if cached is not None and cached[0] == tip:
            return cached[1]
        # cursor starts at -1 so commit version 0 is scanned too (r12
        # ADVICE: `lo = 0` skipped the CREATE commit — harmless while
        # bloom/constraints only publish at v>=1, wrong the day a path
        # writes these maps into the CREATE commit)
        lo, out = cached if cached is not None else (-1, {})
        for v in vs:
            if v <= lo:
                continue
            c = self._read_commit(v)
            if key in c:
                out = c[key]
        self._map_cache[key] = (tip, out)
        return out

    def constraints(self) -> dict[str, str]:
        """Active CHECK constraints: {name: boolean SQL expr}. The latest
        commit carrying a ``constraints`` map wins (full-map semantics,
        like the schema)."""
        return self._latest_map("constraints")

    def _check_constraints(self, df: DataFrame) -> None:
        cons = self.constraints() if self.exists() else {}
        if not cons:
            return
        # ONE probe job for all constraints — the input may be an
        # expensive unmaterialized plan (a CoW merge join), so per-
        # constraint probes would recompute it once each
        combined = " AND ".join(f"({e})" for e in cons.values())
        bad = df.filter(f"NOT ({combined})").limit(1).collect()
        if not bad:
            return
        # identify the offender on the single captured row (cheap)
        one = self.spark.createDataFrame([bad[0]], df.schema)
        for name, expr in cons.items():
            if one.filter(f"NOT ({expr})").count():
                raise ValueError(
                    f"CHECK constraint {name!r} ({expr}) violated, e.g. "
                    f"{bad[0].asDict()}"
                )
        raise ValueError(
            f"CHECK constraints violated (null-valued expr?): {bad[0].asDict()}"
        )

    def set_constraint(self, name: str, expr: str) -> int:
        """ADD CONSTRAINT name CHECK (expr): existing data must already
        satisfy it (one scan); every subsequent write is validated before
        its commit, so invalid data can never become visible."""
        v, live, schema, _ = self._snapshot_full()
        bad = self.read().filter(f"NOT ({expr})").limit(1).collect()
        if bad:
            raise ValueError(
                f"existing rows violate {name!r} ({expr}), e.g. {bad[0].asDict()}"
            )
        cons = {**self.constraints(), name: expr}
        self._publish(
            v + 1,
            {"add": [], "remove": [], "constraints": cons},
            schema.json(), op="SET CONSTRAINT",
        )
        return v + 1

    def drop_constraint(self, name: str) -> int:
        v, live, schema, _ = self._snapshot_full()
        cons = {k: e for k, e in self.constraints().items() if k != name}
        self._publish(
            v + 1, {"add": [], "remove": [], "constraints": cons}, schema.json(), op="DROP CONSTRAINT",
        )
        return v + 1

    # -- bloom-filter data skipping ------------------------------------------

    _BLOOM_TYPES = ("string", "long", "binary")

    def bloom_config(self) -> dict[str, dict]:
        """Active bloom-indexed columns: {col: {"m": bits, "k": hashes}}.
        Latest commit carrying a ``bloom`` map wins (full-map semantics,
        like constraints). Served by the incremental ``_latest_map``
        cache: the pre-r12 full-log replay ran on EVERY append/merge/
        compact even for tables with no bloom configured (r11 ADVICE),
        doubling per-commit metadata cost for long-lived streaming
        tables."""
        return self._latest_map("bloom")

    def set_bloom(self, col: str, m: int = 8192, k: int = 5,
                  backfill: bool = True) -> int:
        """Index ``col`` with a per-file Bloom filter (Delta's
        ``delta.bloomFilter`` analog): every file written from now on
        records an ``m``-bit / ``k``-hash bitmap of the column's values
        in its commit stats, and ``read(filters=[(col, '=', v)])`` /
        ``('in', values)`` prunes files whose bitmap proves absence —
        the point-lookup complement to min/max bounds, which are useless
        on columns with no write-order correlation (a hash-distributed
        id probes every file's [min, max] range).

        Only string/long/binary columns (the mirror hashes exactly what
        Spark's ``xxhash64`` hashes for those types; other types would
        need their own type-tagged mirror). ``m`` must be a multiple of 64;
        sizing rule of thumb: m ≈ 10 bits per expected distinct value
        per file keeps the false-positive rate ~1 % at k=5 — false
        positives only cost an un-pruned file, never correctness.

        ``backfill`` (default) computes bitmaps for the CURRENT live
        files in one scan and republishes their stats, so existing data
        prunes immediately; without it only future writes are indexed
        (absent entries keep their files — always sound)."""
        v, live, schema, stats = self._snapshot_full()
        field = {f.name: f for f in schema.fields}.get(col)
        if field is None:
            raise ValueError(f"no column {col!r} in {self.root}")
        typ = field.dataType.typeName()
        if typ not in self._BLOOM_TYPES:
            raise ValueError(
                f"bloom columns must be string/long/binary, {col!r} is {typ}"
            )
        if m % 64 or m <= 0 or k <= 0:
            raise ValueError(f"m must be a positive multiple of 64 (got {m})")
        cfg = {**self.bloom_config(), col: {"m": int(m), "k": int(k)}}
        actions: dict = {"add": [], "remove": [], "bloom": cfg}
        if backfill and live:
            blooms = self._bloom_stats(live, schema, {col: cfg[col]})
            patched: dict[str, dict] = {}
            for f, colmap in blooms.items():
                ent = dict(stats.get(f) or {})
                ent["__bloom"] = {**(ent.get("__bloom") or {}), **colmap}
                patched[f] = ent
            if patched:
                actions["stats"] = patched
        self._publish(v + 1, actions, schema.json(), op="SET BLOOM",
        )
        return v + 1

    def drop_bloom(self, col: str) -> int:
        """Stop bloom-indexing ``col``. Bitmaps already committed stay
        (they remain sound evidence about their files); only future
        writes stop paying the indexing job."""
        v, _, schema, _ = self._snapshot_full()
        cfg = {c: e for c, e in self.bloom_config().items() if c != col}
        self._publish(
            v + 1, {"add": [], "remove": [], "bloom": cfg}, schema.json(), op="DROP BLOOM",
        )
        return v + 1

    def _bloom_stats(
        self, names: list[str], schema: StructType,
        cfg: dict[str, dict] | None = None,
    ) -> dict[str, dict]:
        """Per-file bloom bitmaps for the configured columns — one
        distributed job per column: explode the k bit positions
        (``pmod(xxhash64(col, i), m)``, the expression the driver-side
        probe mirrors), collect the DISTINCT positions per file (agg
        state bounded by m, never by rows), build the bitmap on the
        driver. Returns {file: {col: entry}}; files with no non-null
        values get an all-zeros bitmap (proves absence of everything —
        sound, and prunes the file for every probe)."""
        if cfg is None:
            cfg = self.bloom_config()
        out: dict[str, dict] = {}
        if not cfg or not names:
            return out
        paths = [os.path.join(self.root, n) for n in names]
        df = self.spark.read.schema(schema).parquet(*paths)
        have = {f.name: f.dataType.typeName() for f in df.schema.fields}
        for col, ent in cfg.items():
            typ = have.get(col)
            if typ not in self._BLOOM_TYPES:
                continue  # pre-evolution writer without the column
            m, k = int(ent["m"]), int(ent["k"])
            pos = F.array(*[
                F.pmod(F.xxhash64(F.col(col), F.lit(int(i)).cast("long")),
                       F.lit(m))
                for i in range(k)
            ])
            rows = (
                df.filter(F.col(col).isNotNull())
                .select(F.col("_metadata.file_path").alias("__fp"),
                        F.explode(pos).alias("__p"))
                .groupBy("__fp")
                .agg(F.collect_set("__p").alias("ps"))
                .collect()  # bounded by file count x m bits
            )
            bysrc = {os.path.basename(r["__fp"]): r["ps"] for r in rows}
            for n in names:
                bits = bytearray(m // 8)
                for p in bysrc.get(n, ()):
                    bits[p >> 3] |= 1 << (p & 7)
                out.setdefault(n, {})[col] = {
                    "m": m, "k": k, "t": typ,
                    "b": base64.b64encode(bytes(bits)).decode("ascii"),
                }
        return out

    def _snapshot(self, version: int | None = None) -> tuple[int, list[str], StructType]:
        v, files, schema, _ = self._snapshot_full(version)
        return v, files, schema

    def last_txn(self, app: str) -> int | None:
        """Highest committed batch id for idempotence key ``app`` (the
        exactly-once handshake for the streaming sink)."""
        best = None
        for v in self.versions():
            t = self._read_commit(v).get("txn")
            if t and t.get("app") == app:
                b = int(t["batch"])
                best = b if best is None or b > best else best
        return best

    def describe_history(self) -> DataFrame:
        """DESCRIBE HISTORY analog: one row per commit, from the log
        alone (metadata-scale; the data files are never opened).
        ``rows_added`` / ``rows_removed`` come from the committed
        ``__rows`` stats — NULL where a pre-stats file makes the count
        unknowable without a scan (absence is reported, never guessed).
        ``op`` is the writer-stamped operation; commits from before the
        stamp are classified by their action shape."""
        rows = []
        pool: dict[str, dict] = {}  # accumulated per-file stats
        vs = self.versions()  # one listing for the whole replay
        for v in vs:
            c = self._read_commit(v)
            add, rem = c.get("add", []), c.get("remove", [])
            new_stats = c.get("stats", {})

            def _nrows(files, stats_map):
                total = 0
                for f in files:
                    n = (stats_map.get(f) or {}).get("__rows")
                    if n is None:
                        return None
                    total += int(n)
                return total

            op = c.get("op")
            if op is None:
                op = ("CREATE" if v == vs[0]
                      else "REWRITE" if add and rem
                      else "APPEND" if add
                      else "DELETE" if rem
                      else "METADATA")
            txn = c.get("txn") or {}
            rows.append((
                int(v), int(c.get("ts", 0)), op,
                len(add), len(rem),
                _nrows(add, new_stats),
                _nrows(rem, pool),
                txn.get("app"),
                int(txn["batch"]) if "batch" in txn else None,
            ))
            for f in rem:
                pool.pop(f, None)
            pool.update(new_stats)
        return self.spark.createDataFrame(
            rows,
            "version long, ts_ms long, op string, files_added int, "
            "files_removed int, rows_added long, rows_removed long, "
            "txn_app string, txn_batch long",
        ).withColumn("ts", F.timestamp_millis(F.col("ts_ms")))

    def history(self) -> DataFrame:
        """Deprecated alias of ``describe_history`` (r11 ADVICE: the
        name ``history()`` previously returned the raw commit-dict list,
        which now lives under ``commits()``; the tabular DESCRIBE
        HISTORY view gets the unambiguous name ``describe_history``).
        Out-of-tree callers indexing ``history()[0]["version"]`` should
        move to ``commits()``; callers wanting the DataFrame should move
        to ``describe_history()``."""
        import warnings

        warnings.warn(
            "TxTable.history() is deprecated: use describe_history() for "
            "the DESCRIBE HISTORY DataFrame or commits() for the raw "
            "commit dicts",
            DeprecationWarning,
            stacklevel=2,
        )
        return self.describe_history()

    def version_at_time(self, ts) -> int:
        """Time travel by timestamp (Delta's ``timestampAsOf``): the
        newest version committed at or before ``ts`` (epoch seconds or a
        datetime). Raises when ``ts`` predates the table."""
        ts_ms = int(
            (ts.timestamp() if hasattr(ts, "timestamp") else float(ts))
            * 1000
        )
        best = None
        for v in self.versions():
            if int(self._read_commit(v).get("ts", 0)) <= ts_ms:
                best = v
        if best is None:
            raise ValueError(
                f"no commit at or before {ts} in {self.root} "
                f"(table created later)"
            )
        return best

    def _reject_type_drift(self, df: DataFrame, schema: StructType) -> None:
        """Same-name/different-type columns are never silently accepted on
        ANY write path — the file would fail (or null out) at read time,
        long after the write "succeeded"."""
        have = {f.name: f.dataType for f in schema.fields}
        drift = [
            (f.name, str(have[f.name]), str(f.dataType))
            for f in df.schema.fields
            if f.name in have and f.dataType != have[f.name]
        ]
        if drift:
            raise ValueError(f"column type drift (col, table, df): {drift}")

    # -- data-file staging --------------------------------------------------

    def _stage(self, df: DataFrame) -> list[str]:
        """Write ``df`` as new immutable parquet files under the table root
        with globally unique names; return their names. Executors write the
        bytes (distributed); only the per-file rename is driver-side — a
        metadata op, one per output file."""
        tag = uuid.uuid4().hex[:12]
        tmp = os.path.join(self.root, f"_staged-{tag}")
        df.write.mode("overwrite").parquet(tmp)
        names = []
        for f in sorted(os.listdir(tmp)):
            if not f.endswith(".parquet"):
                continue
            name = f"part-{tag}-{len(names):05d}.parquet"
            os.rename(os.path.join(tmp, f), os.path.join(self.root, name))
            names.append(name)
        for leftover in os.listdir(tmp):
            os.remove(os.path.join(tmp, leftover))
        os.rmdir(tmp)
        return names

    _SKIPPABLE = (
        "byte", "short", "integer", "long", "float", "double",
        "string", "boolean", "date", "timestamp", "timestamp_ntz",
    )

    @staticmethod
    def _sanitize_bound(v):
        return v.isoformat() if hasattr(v, "isoformat") else v

    def _stage_with_stats(self, df: DataFrame) -> tuple[list[str], dict]:
        """Stage ``df`` and gather its skipping stats in ONE Spark job:
        an ``Observation`` rides the stage write's action and yields
        global min/max per skippable column, so the common streaming
        append (repartition(1) -> exactly one staged file, where global
        bounds ARE the file's bounds) never pays the separate
        ``_file_stats`` job — that job was half the fixed per-commit cost
        of every micro-batch sink invocation. Multi-file stages fall back
        to the per-file stats job: stamping every file with the global
        bounds would be sound (wider-than-true bounds never mis-prune)
        but would erase intra-commit skipping precision for exactly the
        large appends where it matters."""
        from pyspark.sql import Observation

        cols = [f.name for f in df.schema.fields
                if f.dataType.typeName() in self._SKIPPABLE
                and f.name != "__rows"]  # reserved stats key: a real
        # column of that name gets no bounds (never mis-prunes) instead
        # of clobbering the per-file row count
        obs = Observation()
        aggs = [F.count(F.lit(1)).alias("__nrows")]
        for c in cols:
            aggs.append(F.min(c).alias(f"mn__{c}"))
            aggs.append(F.max(c).alias(f"mx__{c}"))
        schema = df.schema
        df = df.observe(obs, *aggs)
        names = self._stage(df)
        if len(names) != 1:
            return names, self._file_stats(names)
        row = obs.get
        # "__rows" is a reserved stats key (per-file row count -> exact
        # metadata-only TxTable.row_count, Delta's numRecords analog)
        ent = {"__rows": int(row["__nrows"])}
        for c in cols:
            mn, mx = row[f"mn__{c}"], row[f"mx__{c}"]
            if mn is None or mn != mn or mx != mx:
                continue  # all-null column/empty file, or a NaN bound
                # (comparisons with NaN are all False — an 'in' probe
                # against a NaN max would prune matching files)
            ent[c] = [self._sanitize_bound(mn), self._sanitize_bound(mx)]
        if self.exists():
            blooms = self._bloom_stats(names, schema)
            if names[0] in blooms:
                ent["__bloom"] = blooms[names[0]]
        return names, {names[0]: ent}

    def _file_stats(self, names: list[str]) -> dict[str, dict]:
        """Per-file min/max for skippable columns (numeric/string/bool),
        gathered with ONE distributed job grouped on the file-path
        pseudo-column — never a per-file driver loop. Stored in the commit
        so readers prune files from the log alone (Delta data-skipping
        design). Columns whose values don't round-trip through JSON
        (timestamps, decimals, nested types) are simply not indexed —
        skipping is an optimization, absence is always safe."""
        if not names:
            return {}
        paths = [os.path.join(self.root, n) for n in names]
        df = self.spark.read.parquet(*paths)
        cols = [f.name for f in df.schema.fields
                if f.dataType.typeName() in self._SKIPPABLE
                and f.name != "__rows"]  # reserved stats key (see above)
        aggs = [F.count(F.lit(1)).alias("__nrows")]
        for c in cols:
            aggs.append(F.min(c).alias(f"mn__{c}"))
            aggs.append(F.max(c).alias(f"mx__{c}"))
        rows = (
            df.groupBy(F.col("_metadata.file_path").alias("__fp"))
            .agg(*aggs)
            .collect()  # bounded by file count — metadata-scale
        )
        out: dict[str, dict] = {}
        for r in rows:
            ent = {"__rows": int(r["__nrows"])}
            for c in cols:
                mn, mx = r[f"mn__{c}"], r[f"mx__{c}"]
                if mn is None or mn != mn or mx != mx:
                    continue  # all-null column in this file, or a NaN
                    # bound (see _stage_with_stats)
                ent[c] = [self._sanitize_bound(mn), self._sanitize_bound(mx)]
            out[os.path.basename(r["__fp"])] = ent
        # a zero-row file emits no groupBy row; record its count anyway
        # or row_count would pay a footer-scan fallback for it forever
        for n in names:
            out.setdefault(n, {"__rows": 0})
        if self.exists():
            for n, colmap in self._bloom_stats(names, df.schema).items():
                out.setdefault(n, {})["__bloom"] = colmap
        return out

    # -- public API ---------------------------------------------------------

    def create(self, df: DataFrame) -> "TxTable":
        if self.exists():
            raise FileExistsError(f"txlog table already exists at {self.root}")
        os.makedirs(self.root, exist_ok=True)
        files, stats = self._stage_with_stats(df)
        self._publish(
            0,
            {"add": files, "remove": [], "stats": stats},
            df.schema.json(), op="CREATE",
        )
        return self

    def create_empty(self, schema: StructType | str) -> "TxTable":
        """Create a table with ZERO data files — no Spark job at all.
        ``create(spark.createDataFrame([], schema))`` runs a stage write
        plus a stats job just to produce one empty parquet file (~2 s of
        pure task scheduling on a 32-thread session); an empty table is
        metadata, so publish it as metadata. ``read()`` of a fileless
        snapshot already returns an empty DataFrame of the logged schema.
        ``schema`` is a StructType or a DDL string ("id long, ...")."""
        if self.exists():
            raise FileExistsError(f"txlog table already exists at {self.root}")
        if isinstance(schema, str):
            schema = StructType.fromDDL(schema)
        os.makedirs(self.root, exist_ok=True)
        self._publish(0, {"add": [], "remove": [], "stats": {}}, schema.json(), op="CREATE",
        )
        return self

    def read(
        self,
        version: int | None = None,
        filters: Sequence[tuple[str, str, object]] | None = None,
    ) -> DataFrame:
        """Snapshot read, optionally with data skipping: ``filters`` is a
        conjunction of ``(col, op, value)`` with op in = == < <= > >= in
        (``in`` takes a collection — the cell/bucket probe shape; a file
        is kept unless every probed value falls outside its [min, max]).
        Files whose committed min/max prove no row can match are dropped
        from the scan before Spark ever lists them; the residual predicate
        is still applied, so pruning is transparent to results."""
        return self.read_snapshot(self._snapshot_full(version), filters)

    def read_snapshot(
        self,
        snapshot: tuple[int, list[str], StructType, dict[str, dict]],
        filters: Sequence[tuple[str, str, object]] | None = None,
    ) -> DataFrame:
        """``read`` over a snapshot already resolved by ``_snapshot_full``,
        for a reader that pins a version and reads it more than once."""
        _, files, schema, stats = snapshot
        if filters:
            files = [f for f in files if _may_match(stats.get(f), filters)]
        if not files:
            df = self.spark.createDataFrame([], schema)
        else:
            paths = [os.path.join(self.root, f) for f in files]
            # explicit schema: a snapshot's schema is the log's, not
            # whatever parquet footer merging would infer across
            # file generations
            df = self.spark.read.schema(schema).parquet(*paths)
        for c, op, v in filters or []:
            # raw value, not F.lit(v): comparisons auto-lit scalars, and
            # the ``in`` op needs the collection itself for isin
            df = df.filter(_OPS[op](F.col(c), v))
        return df

    def row_count(self, version: int | None = None) -> int:
        """Exact COUNT(*) from commit metadata alone (Delta's numRecords
        analog): every file written since r10 carries a reserved
        ``__rows`` stat. Files from older commits that lack it are
        counted with one footer-only Spark job over just those files —
        so the cost is bounded by the PRE-r10 remainder, shrinking to
        zero as the table is rewritten."""
        _, files, schema, stats = self._snapshot_full(version)
        total = 0
        unknown = []
        for f in files:
            n = (stats.get(f) or {}).get("__rows")
            if n is None:
                unknown.append(f)
            else:
                total += int(n)
        if unknown:
            total += (
                self.spark.read.schema(schema)
                .parquet(*[os.path.join(self.root, f) for f in unknown])
                .count()
            )
        return total

    def read_files(
        self,
        version: int | None = None,
        filters: Sequence[tuple[str, str, object]] | None = None,
    ) -> list[str]:
        """The file names ``read`` would scan — exposed for tests and
        observability of data skipping."""
        _, files, _, stats = self._snapshot_full(version)
        if filters:
            files = [f for f in files if _may_match(stats.get(f), filters)]
        return files

    def append(
        self, df: DataFrame, txn: dict | None = None, merge_schema: bool = False
    ) -> int:
        """Append ``df`` as a new commit. With ``merge_schema`` (Delta's
        mergeSchema), columns present in ``df`` but not the table are
        ADDED to the table schema (nullable); old files simply read those
        columns as null (parquet-with-explicit-schema semantics), so no
        rewrite happens. Without it, a column mismatch is an error — the
        log's schema is a contract, not an inference."""
        v, _, schema = self._snapshot()
        self._reject_type_drift(df, schema)
        have = {f.name for f in schema.fields}
        extra = [f for f in df.schema.fields if f.name not in have]
        missing = [f.name for f in schema.fields if f.name not in df.schema.names]
        if (extra or missing) and not merge_schema:
            raise ValueError(
                f"append schema mismatch (extra={[f.name for f in extra]}, "
                f"missing={missing}); pass merge_schema=True to evolve"
            )
        if merge_schema:
            for name in missing:  # absent columns land as null
                df = df.withColumn(
                    name, F.lit(None).cast(schema[name].dataType)
                )
            schema = StructType(
                schema.fields
                + [StructField(f.name, f.dataType, True) for f in extra]
            )
            df = df.select(*[f.name for f in schema.fields])
        self._check_constraints(df)
        files, stats = self._stage_with_stats(df)
        self._publish(
            v + 1,
            {"add": files, "remove": [], "stats": stats},
            schema.json(),
            txn=txn, op="APPEND",
        )
        return v + 1

    def stage_for_append(self, df: DataFrame) -> dict:
        """Run an append's DISTRIBUTED work (validation, stage write,
        stats) without publishing; pair with ``commit_staged``. Lets a
        streaming monitor overlap the state write's Spark job with other
        driver-side work (e.g. reading an Observation attached to ``df``)
        while still committing the state table LAST in its exactly-once
        ordering. A crash between stage and commit leaks orphaned staged
        files — the same window ``append`` itself has inside ``_stage`` —
        which never become visible (reads list only logged files)."""
        _, _, schema = self._snapshot()
        self._reject_type_drift(df, schema)
        if set(df.schema.names) != set(schema.names):
            raise ValueError(
                f"append schema mismatch ({sorted(df.schema.names)} vs "
                f"{sorted(schema.names)}); staged appends do not evolve schema"
            )
        self._check_constraints(df)
        files, stats = self._stage_with_stats(df)
        return {"add": files, "stats": stats, "schema_json": schema.json()}

    def commit_staged(self, staged: dict, txn: dict | None = None) -> int:
        """Publish files from ``stage_for_append``. The version is
        resolved at COMMIT time (pure appends compose with any
        interleaved commit), but a schema change since staging is a real
        conflict and raises."""
        v, _, schema = self._snapshot()
        if schema.json() != staged["schema_json"]:
            raise ConcurrentCommitError(
                f"table schema changed between stage and commit at {self.root}"
            )
        self._publish(
            v + 1,
            {"add": staged["add"], "remove": [], "stats": staged["stats"]},
            staged["schema_json"],
            txn=txn, op="APPEND",
        )
        return v + 1

    def overwrite(self, df: DataFrame, overwrite_schema: bool = False) -> int:
        v, live, schema = self._snapshot()
        if not overwrite_schema:
            self._reject_type_drift(df, schema)
            if set(df.schema.names) != set(schema.names):
                raise ValueError(
                    f"overwrite schema mismatch ({sorted(df.schema.names)} vs "
                    f"table {sorted(schema.names)}); pass overwrite_schema=True "
                    "to replace the schema"
                )
        self._check_constraints(df)
        files = self._stage(df)
        self._publish(
            v + 1,
            {"add": files, "remove": live, "stats": self._file_stats(files)},
            df.schema.json(), op="OVERWRITE",
        )
        return v + 1

    def restore_to(self, version: int) -> int:
        """RESTORE TABLE ... TO VERSION (Delta's RESTORE): commit a new
        version whose live file set, stats, and schema equal the
        snapshot at ``version``. Metadata-only — no data is read or
        written; files added after ``version`` become unreferenced
        garbage for ``vacuum``. Raises if any file of the target
        snapshot has already been vacuumed (the rollback would
        otherwise read missing data), leaving the log untouched.
        Re-added files are validated against the ACTIVE constraints
        (which a restore never rolls back — they are policy, not data):
        a constraint added after ``version`` could otherwise be
        violated by resurrected rows, silently breaking
        ``set_constraint``'s invalid-data-never-visible invariant."""
        tgt_v, tgt_files, tgt_schema, tgt_stats = self._snapshot_full(version)
        cur_v, cur_files, _cs, _ = self._snapshot_full()
        if cur_v == tgt_v:
            return cur_v
        missing = [
            f for f in tgt_files
            if not os.path.exists(os.path.join(self.root, f))
        ]
        if missing:
            raise FileNotFoundError(
                f"cannot restore {self.root} to version {version}: "
                f"{len(missing)} file(s) already vacuumed, e.g. {missing[0]}"
            )
        add = sorted(set(tgt_files) - set(cur_files))
        remove = sorted(set(cur_files) - set(tgt_files))
        if add and self.constraints():
            # only the re-added files can introduce violations: files
            # that stayed live were validated when written (or by
            # set_constraint's full scan)
            self._check_constraints(
                self.spark.read.schema(tgt_schema).parquet(
                    *[os.path.join(self.root, f) for f in add]
                )
            )
        self._publish(
            cur_v + 1,
            {
                "add": add,
                "remove": remove,
                "stats": {f: tgt_stats[f] for f in add if f in tgt_stats},
            },
            tgt_schema.json(), op="RESTORE",
        )
        return cur_v + 1

    def merge(
        self,
        source: DataFrame,
        on: Sequence[str],
        update_cols: Sequence[str] | None = None,
        prune_source_keys: int | None = None,
    ) -> int:
        """MERGE INTO this table USING source ON keys — matched rows update
        (source wins), unmatched source rows insert. Same row semantics as
        ``operators.mutate.merge_upsert`` (U1, epa_ingestion.py:585-623),
        which this delegates to for the rewrite — one logical MERGE, two
        physical backends, test-pinned identical.

        File-granular copy-on-write: files with no matching key survive
        untouched (any source key present in them would have put them in
        the touched set, so the untouched partition of the table commutes
        with the merge); touched files are re-read, merged, and replaced,
        all under one atomic commit.

        ``prune_source_keys``: the CDC-upsert fast path. When set, the
        source's DISTINCT per-column key values are collected (up to
        this many; more disables pruning) and the live file list is
        pre-pruned through the committed stats — bounds AND bloom
        bitmaps (``set_bloom`` on the key column makes this prune
        hash-distributed ids, where bounds never can) — BEFORE the
        touched-file discovery scan. Sound per file: a file containing
        no occurrence of any source value of some key column cannot
        hold a row equal to a source row on all keys. Turns the
        per-merge discovery from O(table files) into O(files sharing a
        key value) — the constant that matters when a 100-row upsert
        lands on a 100 TB table every minute.
        """
        from sf_epa_data_ingestion_spark.operators.mutate import merge_upsert

        keys = list(on)
        v, live, schema, stats = self._snapshot_full()
        self._reject_type_drift(source, schema)
        src = source.dropDuplicates(keys)

        pruned_src = None
        if prune_source_keys and live:
            # persist first: the key collect and the later discovery
            # semi-join MUST see the same source rows — a
            # non-deterministic or concurrently-changing source plan
            # re-evaluated across the two jobs could produce a key the
            # prune never saw, silently skipping its file's rewrite
            pruned_src = src = src.persist()
            vals = src.select(*keys).distinct().limit(
                int(prune_source_keys) + 1
            ).collect()
            if len(vals) <= int(prune_source_keys):
                filters = [
                    (c, "in", [r[c] for r in vals]) for c in keys
                ]
                live = [f for f in live if _may_match(stats.get(f), filters)]

        touched: list[str] = []
        if live:
            live_df = self.spark.read.schema(schema).parquet(
                *[os.path.join(self.root, f) for f in live]
            )
            # broadcast semi-join keyed on the file path pseudo-column:
            # scans only the key columns (pruned), returns file PATHS —
            # driver materialization is bounded by file count
            touched_paths = (
                live_df.select(F.col("_metadata.file_path").alias("__fp"), *keys)
                .join(F.broadcast(src.select(*keys)), keys, "left_semi")
                .select("__fp")
                .distinct()
                .collect()
            )
            touched_set = {os.path.basename(r["__fp"]) for r in touched_paths}
            touched = sorted(f for f in live if f in touched_set)

        target_rows = (
            self.spark.read.schema(schema).parquet(
                *[os.path.join(self.root, f) for f in touched]
            )
            if touched
            else self.spark.createDataFrame([], schema)
        )
        try:
            merged = merge_upsert(target_rows, src, keys, update_cols)
            self._check_constraints(merged)
            new_files = self._stage(merged)
            self._publish(
                v + 1,
                {"add": new_files, "remove": touched,
                 "stats": self._file_stats(new_files)},
                schema.json(), op="MERGE",
            )
        finally:
            if pruned_src is not None:
                pruned_src.unpersist()
        return v + 1

    def compact(
        self,
        cluster_by: Sequence[str] | None = None,
        target_files: int | None = None,
        zorder: bool = False,
        only_small_bytes: int | None = None,
    ) -> int:
        """OPTIMIZE: rewrite the live file set into ``target_files`` files,
        optionally clustered on ``cluster_by`` — after many small appends
        (a streaming sink's natural output) files are tiny and their
        min/max ranges overlap, so data skipping prunes nothing.

        Plain ``cluster_by`` range-partitions on the columns in order:
        files get disjoint ranges of the FIRST column (Delta's OPTIMIZE
        ZORDER BY in its 1-key special case). With ``zorder=True`` and
        several columns, rows are range-partitioned on a Morton key
        (storage/zorder.py) instead, so every clustered column's per-file
        range tightens and ``read(filters=...)`` prunes on any of them.
        One shuffle either way; published as a normal atomic commit, so
        concurrent readers keep their snapshot.

        ``only_small_bytes`` makes the rewrite CHANGE-proportional (the
        Delta OPTIMIZE bin-packing shape): only live files under the
        byte threshold are rewritten, so a long-running stream's
        maintenance cost follows its recent append volume, never the
        corpus — a full-table rewrite per maintenance tick would be
        O(corpus) work on a 100 TB state table. Previously-compacted
        generations sit above the threshold and are never touched; a
        no-gain call (the small set already fits the target count) is a
        no-op returning the current version."""
        v, live, schema, _ = self._snapshot_full()
        subset = live
        if only_small_bytes is not None:
            subset = [
                f for f in live
                if os.path.getsize(os.path.join(self.root, f)) < only_small_bytes
            ]
            if len(subset) <= max(1, target_files or 1):
                return v  # nothing to gain: already at/below target
        n = target_files if target_files is not None else max(1, len(subset) // 4)
        if subset == live:
            df = self.read()
        elif not subset:
            return v
        else:
            df = self.spark.read.schema(schema).parquet(
                *[os.path.join(self.root, f) for f in subset]
            )
        if cluster_by and zorder and len(cluster_by) > 1:
            from sf_epa_data_ingestion_spark.storage.zorder import zorder_key

            df = (
                df.withColumn("__zkey", zorder_key(df, cluster_by))
                .repartitionByRange(n, F.col("__zkey"))
                .drop("__zkey")
            )
        elif cluster_by:
            df = df.repartitionByRange(n, *[F.col(c) for c in cluster_by])
        else:
            df = df.repartition(n)
        files = self._stage(df)
        self._publish(
            v + 1,
            {"add": files, "remove": subset, "stats": self._file_stats(files)},
            schema.json(), op="OPTIMIZE",
        )
        return v + 1

    def _touched_by_predicate(
        self, live: list[str], schema: StructType, cond,
        prune_filters=None, stats: dict | None = None,
    ) -> list[str]:
        """Files containing at least one row matching ``cond`` — the
        file-granular CoW discovery for predicate-driven mutations. One
        distributed scan (column-pruned to the predicate's inputs);
        driver materialization bounded by file count.

        ``prune_filters`` (the ``read()`` tuple shape) pre-prunes the
        discovery scan through the committed per-file stats: a file
        whose bounds prove the filters empty cannot contain a matching
        row, so it is never opened. SOUNDNESS IS THE CALLER'S CONTRACT:
        the filters must be implied by ``cond`` (pruning a file that
        does contain matches would silently skip its rewrite). Without
        them the discovery is an O(live-files) column-pruned scan per
        mutation — fine for ad-hoc DML, the wrong constant for a
        per-micro-batch refresh over a bucketed layout."""
        if prune_filters and stats is not None:
            live = [f for f in live if _may_match(stats.get(f), prune_filters)]
        if not live:
            return []
        live_df = self.spark.read.schema(schema).parquet(
            *[os.path.join(self.root, f) for f in live]
        )
        rows = (
            live_df.filter(cond)
            .select(F.col("_metadata.file_path").alias("__fp"))
            .distinct()
            .collect()
        )
        touched = {os.path.basename(r["__fp"]) for r in rows}
        return sorted(f for f in live if f in touched)

    def delete_where(self, cond, prune_filters=None) -> int:
        """DELETE FROM this table WHERE cond (U4's predicate half, CoW):
        only files containing matching rows are rewritten without them;
        untouched files survive. ``cond`` is a Column or SQL string.
        ``prune_filters`` (must be implied by ``cond`` — see
        ``_touched_by_predicate``) skips files the committed stats
        prove untouched before the discovery scan opens them."""
        v, live, schema, stats = self._snapshot_full()
        cond = F.expr(cond) if isinstance(cond, str) else cond
        touched = self._touched_by_predicate(
            live, schema, cond, prune_filters=prune_filters, stats=stats
        )
        if not touched:
            return v  # nothing matched: no-op, no empty commit
        kept = self.spark.read.schema(schema).parquet(
            *[os.path.join(self.root, f) for f in touched]
        ).filter(~cond)
        new_files = self._stage(kept)
        self._publish(
            v + 1,
            {"add": new_files, "remove": touched,
             "stats": self._file_stats(new_files)},
            schema.json(), op="DELETE",
        )
        return v + 1

    def replace_where(
        self, cond, df: DataFrame, txn: dict | None = None,
        prune_filters=None,
    ) -> int:
        """DELETE WHERE ``cond`` and append ``df`` in ONE atomic commit
        (Delta's replaceWhere, generalized to any predicate): files
        containing matching rows are CoW-discovered, their surviving
        rows ride the SAME staged write as ``df``, and the removes and
        adds publish together. On the index-refresh hot path this
        halves the per-piece commits (and collapses three Spark jobs —
        survivor rewrite, survivor stats, append stage — into one when
        the layout is predicate-aligned and survivors are empty), and
        there is no intermediate tip where the delete is visible
        without its replacement. ``df`` must match the table schema
        exactly (no evolution on this path). ``prune_filters`` (must be
        implied by ``cond``) skips provably-untouched files before the
        discovery scan — the per-micro-batch refresh path over a
        bucketed layout passes its bucket probe here so discovery cost
        follows the CHANGE, not the corpus."""
        v, live, schema, stats = self._snapshot_full()
        cond = F.expr(cond) if isinstance(cond, str) else cond
        self._reject_type_drift(df, schema)
        if set(df.schema.names) != set(schema.names):
            raise ValueError(
                f"replace_where schema mismatch ({sorted(df.schema.names)} "
                f"vs table {sorted(schema.names)})"
            )
        cols = [f.name for f in schema.fields]
        touched = self._touched_by_predicate(
            live, schema, cond, prune_filters=prune_filters, stats=stats
        )
        out = df.select(*cols)
        if touched:
            kept = self.spark.read.schema(schema).parquet(
                *[os.path.join(self.root, f) for f in touched]
            ).filter(~cond).select(*cols)
            out = kept.unionByName(out)
        self._check_constraints(out)
        files, stats = self._stage_with_stats(out)
        self._publish(
            v + 1,
            {"add": files, "remove": touched, "stats": stats},
            schema.json(),
            txn=txn, op="REPLACE WHERE",
        )
        return v + 1

    def update_where(self, cond, set_cols: dict) -> int:
        """UPDATE this table SET col = expr WHERE cond (U2's predicate
        form, CoW): matching rows in touched files get ``set_cols``
        applied, other rows in those files are rewritten unchanged,
        untouched files survive. Values may be Columns or SQL strings."""
        v, live, schema = self._snapshot()
        cond = F.expr(cond) if isinstance(cond, str) else cond
        touched = self._touched_by_predicate(live, schema, cond)
        if not touched:
            return v
        rows = self.spark.read.schema(schema).parquet(
            *[os.path.join(self.root, f) for f in touched]
        )
        out = rows.select(
            *[
                F.when(
                    cond,
                    F.expr(set_cols[c]) if isinstance(set_cols.get(c), str) else set_cols[c],
                ).otherwise(F.col(c)).alias(c)
                if c in set_cols
                else F.col(c)
                for c in rows.columns
            ]
        )
        self._reject_type_drift(out, schema)
        self._check_constraints(out)
        new_files = self._stage(out)
        self._publish(
            v + 1,
            {"add": new_files, "remove": touched,
             "stats": self._file_stats(new_files)},
            schema.json(), op="UPDATE",
        )
        return v + 1

    def changes(self, from_version: int, to_version: int | None = None) -> DataFrame:
        """Row-level change feed between two snapshots (Delta's
        readChangeFeed, reconstructed from the copy-on-write file
        actions): rows of files ADDED in (from_version, to_version] are
        ``insert``s, rows of files REMOVED there are ``delete``s — a
        MERGE's rewritten file emits the old row images as deletes and
        the new images as inserts, which is exactly the delete+insert
        pair CDC consumers expect for an update. Net-zero rows (a file
        added then removed within the window) cancel out.

        Requires the referenced files to still exist — i.e. not vacuumed
        past ``from_version`` (same retention caveat as Delta's CDF).
        """
        vs = self.versions()
        to_v = vs[-1] if to_version is None else to_version
        if from_version not in vs or to_v not in vs or from_version > to_v:
            raise ValueError(f"bad version window ({from_version}, {to_v}]")
        added: set[str] = set()
        removed: set[str] = set()
        schema_json = None
        file_schema: dict[str, str] = {}  # each file's add-time schema
        for i in vs:
            c = self._read_commit(i)
            schema_json = c.get("schema") or schema_json
            if i <= from_version:
                for f in c.get("add", []):
                    file_schema[f] = schema_json
                continue
            if i > to_v:
                break
            for f in c.get("add", []):
                file_schema[f] = schema_json
                if f in removed:
                    removed.discard(f)  # re-add after remove: net insert
                added.add(f)
            for f in c.get("remove", []):
                if f in added:
                    added.discard(f)  # add then remove in-window: net zero
                else:
                    removed.add(f)
        # files written under an INCOMPATIBLE schema cannot be read with
        # the window's latest one (type changes fail or null out at read
        # time) — fail loudly instead of producing a corrupt feed.
        # Compatible = every column the file was written with still
        # exists with the same type (evolution that only ADDED nullable
        # columns is fine: the missing columns read as null).
        latest_types = {
            f["name"]: json.dumps(f["type"], sort_keys=True)
            for f in json.loads(schema_json)["fields"]
        }

        def _compatible(old_json: str | None) -> bool:
            if old_json is None or old_json == schema_json:
                return True
            return all(
                latest_types.get(f["name"])
                == json.dumps(f["type"], sort_keys=True)
                for f in json.loads(old_json)["fields"]
            )

        mismatched = {f for f in added | removed if not _compatible(file_schema.get(f))}
        if mismatched:
            raise ValueError(
                "change feed window spans an incompatible schema change; "
                f"{len(mismatched)} file(s) were written under a schema "
                "whose columns changed type or were dropped — read each "
                "sub-window between schema changes separately"
            )
        schema = StructType.fromJson(json.loads(schema_json))

        def _tagged(names: set[str], tag: str) -> DataFrame:
            if not names:
                return self.spark.createDataFrame([], schema).withColumn(
                    "_change_type", F.lit(tag)
                )
            return self.spark.read.schema(schema).parquet(
                *[os.path.join(self.root, f) for f in sorted(names)]
            ).withColumn("_change_type", F.lit(tag))

        return _tagged(added, "insert").unionByName(_tagged(removed, "delete"))

    def commits(self) -> list[dict]:
        """The raw commit documents, oldest first — the log itself.
        ``describe_history()`` is the user-facing tabular view of the same."""
        return [self._read_commit(v) for v in self.versions()]

    def vacuum(
        self, keep_versions: int = 1, retention_seconds: float = 3600.0
    ) -> list[str]:
        """Physically delete data files not live in any of the newest
        ``keep_versions`` snapshots (plus crash-orphaned staged files).
        Time travel older than the retained window stops working — same
        trade Delta's VACUUM makes.

        ``retention_seconds`` guards CONCURRENT writers: a writer that has
        staged files but not yet published its commit looks exactly like
        a crash orphan, so only files older than the retention window are
        deleted (Delta's VACUUM retention, same reasoning). Pass 0 only
        when no other writer can be mid-commit."""
        vs = self.versions()
        keep = vs[-max(1, keep_versions):]
        retained: set[str] = set()
        for v in keep:
            retained.update(self._snapshot(v)[1])
        cutoff = time.time() - retention_seconds
        removed = []
        for f in os.listdir(self.root):
            if f.endswith(".parquet") and f not in retained:
                path = os.path.join(self.root, f)
                try:
                    if os.path.getmtime(path) > cutoff:
                        continue  # possibly an in-flight writer's stage
                    os.remove(path)
                except OSError:
                    continue
                removed.append(f)
        # sweep commit-publish tmp orphans (r12 ADVICE): a writer that
        # crashed between the tmp write and the finally-unlink leaves a
        # dot-prefixed `.<version>.json.<pid>.<hex>.tmp` in the log dir —
        # invisible to versions(), but disk garbage forever without this.
        # The same retention window guards an in-flight publisher.
        if os.path.isdir(self.log_dir):
            for f in os.listdir(self.log_dir):
                if f.startswith(".") and f.endswith(".tmp"):
                    path = os.path.join(self.log_dir, f)
                    try:
                        if os.path.getmtime(path) > cutoff:
                            continue
                        os.remove(path)
                    except OSError:
                        continue
                    removed.append(os.path.join(_LOG_DIR, f))
        return sorted(removed)
