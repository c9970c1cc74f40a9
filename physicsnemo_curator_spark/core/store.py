"""Shared primitives for batch-partitioned persisted stores.

Four stores converged on the same hard-won conventions by copy — the
MinHash band store (``operators/dedup.py``), the semantic-dedup vector
store and the IVF-PQ code index (``operators/mllib_ann.py``), and the
split-assignment store (``operators/sampling.py``).  This module is
those conventions extracted once:

- **Batch ids are partition directory names**, so they get a safe
  charset up front (:func:`validate_batch_id`) and are always
  addressed BY PATH (:func:`batch_dir` / :func:`read_batch`): Spark's
  partition-value type inference canonicalizes numeric-looking names
  (``'007'`` reads back as integer ``7``), so a ``_batch`` value
  filter silently matches nothing — path addressing sidesteps the
  inference entirely and gives fresh batch names a one-existence-check
  fast path instead of a Spark job.
- **"Absent" is an expected state, "broken" is not**
  (:func:`read_optional_parquet`): only the missing-path /
  nothing-to-infer-a-schema-from error conditions read as None —
  matched by the STABLE error class via
  :func:`~physicsnemo_curator_spark.core.errors.analysis_condition`,
  with the known message shapes as the fallback for builds that
  attach no condition — because AnalysisException also covers
  schema-level corruption, and treating THAT as "absent" would
  silently drop an upsert carry or serve superseded rows.
- **Appends are dynamic partition overwrites**
  (:func:`write_batch_partitioned`): re-running a batch replaces its
  own partitions (idempotent ingestion) instead of double-appending,
  and an invalid mode string raises instead of falling through to a
  STATIC overwrite that would wipe every other batch.
- **A partition rewrite is only an upsert with a carry**
  (:func:`carry_surviving`): dynamic overwrite replaces every
  partition the incoming rows touch, which would DELETE same-batch
  rows of keys a partial re-run did not carry (found independently by
  the IVF-PQ randomized lifecycle test and the split store's code
  review) — the carry anti-joins the stored batch against the
  incoming key set and MATERIALIZES before the write, because Spark
  refuses a write whose plan still scans the destination.

The opt-in MAINTENANCE LEASE (:func:`acquire_lease` /
:func:`verify_lease` / :func:`release_lease`) also lives here: any
store whose maintenance passes must not interleave takes it —
the IVF-PQ index keeps the lease file inside its root (stashed
through flat overwrites), flat stores use the sibling
:func:`maintenance_root`.  The index's generation-pointer protocol,
``_gen`` conflict order, and tombstones stay in ``mllib_ann`` — they
are index-serving concerns, not batch-store plumbing; the narrower
stores' docstrings point there when a caller needs latest-write-wins
serving.
"""

from __future__ import annotations

import os
import re

from physicsnemo_curator_spark.core.errors import analysis_condition

__all__ = [
    "LEASE_FILE",
    "acquire_lease",
    "verify_lease",
    "release_lease",
    "held_lease",
    "maintenance_root",
    "validate_batch_id",
    "batch_dir",
    "try_local_path",
    "read_optional_parquet",
    "read_batch",
    "release",
    "write_batch_partitioned",
    "carry_surviving",
]

_BATCH_ID_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9._:-]*")


def validate_batch_id(batch_id: str, *, reserved: tuple[str, ...] = ()) -> None:
    """Batch names are labels for partition layout/idempotency, NOT
    ordering keys — but they become partition directory names, so
    enforce a safe charset up front; ``reserved`` names (e.g. the
    IVF-PQ compactor's ``'compacted'``) raise too."""
    if batch_id in reserved:
        raise ValueError(
            f"batch_id {batch_id!r} is reserved for store maintenance"
        )
    if not _BATCH_ID_RE.fullmatch(batch_id):
        raise ValueError(
            f"invalid batch_id {batch_id!r}: must start alphanumeric "
            "and contain only [A-Za-z0-9._:-] (it names a partition "
            "directory)"
        )


def batch_dir(store: str, batch_id: str) -> str:
    """The ``_batch=<id>`` partition directory for one batch.  The only
    character in the validated charset that Spark percent-escapes in
    partition directory names is ``:``."""
    return os.path.join(store, "_batch=" + batch_id.replace(":", "%3A"))


def try_local_path(store: str) -> str | None:
    """The local filesystem path behind a store location, or None for
    a non-file scheme (``s3a://``, ``hdfs://``, …).  Parquet data
    always goes through Spark, which accepts any Hadoop-FS URI; only
    metadata/existence fast paths are filesystem-specific, and each
    caller degrades differently on None — so the decision belongs to
    them, not here."""
    if store.startswith("file://"):
        return store[len("file://"):]
    if "://" in store:
        return None
    return store


def read_optional_parquet(spark, path: str):
    """Read a parquet path that legitimately may not exist yet (a
    store's batch partition, a tombstone set): None when missing — a
    local-path existence fast path avoids the Spark job entirely, and
    a scheme'd path falls back to read-and-catch.  ONLY the
    missing-path / nothing-to-infer-a-schema-from error conditions are
    swallowed (see the module docstring for why the classification is
    this strict); everything else propagates."""
    from pyspark.errors import AnalysisException

    local = try_local_path(path)
    if local is not None and not os.path.exists(local):
        return None
    try:
        if local is not None:
            # plan memo (see memoized_parquet): probe loops re-read the
            # same store path; the memo skips the per-call listing +
            # footer-inference job and any mutation re-keys it
            return memoized_parquet(spark, path)
        return spark.read.parquet(path)
    except AnalysisException as exc:
        cond = analysis_condition(exc)
        if cond in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"):
            return None
        if cond is None and (
            "PATH_NOT_FOUND" in str(exc)
            or "Path does not exist" in str(exc)
            or "Unable to infer schema" in str(exc)
        ):
            # builds predating error classes (no getCondition /
            # getErrorClass, or a server that attached none): fall
            # back to the known message shapes so a genuinely-absent
            # scheme'd store path still reads as "not written yet"
            return None
        raise


def path_ident(path: str) -> str:
    """Freshness token of a local path, the one identity rule of the
    session plan memo and the temp-fixture keys: ``mtime_ns:size`` for
    a file; for a directory, every file below it (relative path,
    mtime_ns, size) folded into one md5.  The walk is recursive because
    dynamic partition overwrite rewrites files inside an existing
    ``_batch=<id>/cell=<n>/`` dir without touching the root's entry set,
    and an in-place rewrite changes a file's stat but not its
    directory's.  Nanosecond mtime plus size, never a PID (PIDs recycle
    inside containers) or whole seconds (same-second regenerations
    collide)."""
    import hashlib
    import stat

    try:
        st = os.stat(path)
    except OSError:
        return "absent"
    if not stat.S_ISDIR(st.st_mode):
        return f"{st.st_mtime_ns}:{st.st_size}"
    parts: list[str] = []
    for dirpath, dirnames, filenames in os.walk(path):
        dirnames.sort()
        rel = os.path.relpath(dirpath, path)
        for fn in sorted(filenames):
            try:
                st = os.stat(os.path.join(dirpath, fn))
                parts.append(f"{rel}/{fn}:{st.st_mtime_ns}:{st.st_size}")
            except OSError:
                parts.append(f"{rel}/{fn}:gone")
    if not parts:
        return "empty"
    return hashlib.md5("|".join(parts).encode()).hexdigest()


def memoized_read(spark, key_path: str, local_root: str, build):
    """The session's plan memo, keyed on ``key_path`` plus the
    :func:`path_ident` of ``local_root``.  ``build()`` constructs the
    lazy DataFrame on a miss: ``spark.read.parquet`` re-runs driver
    file listing plus a footer schema-inference job on every call, and
    table loads and store probe loops re-read the same unchanged path
    many times per session.  Only the plan is reused; every action
    still scans the parquet files.

    A changed identity is also the session's one freshness signal: the
    superseded entry is dropped and ``refreshByPath`` re-caches every
    persisted frame over the old bytes (shared intermediates the
    CacheManager matches by path, and persists inside operators), so
    nothing computed from the old bytes is served again."""
    cache: dict = spark.__dict__.setdefault("_pcs_plan_memo", {})
    key = (key_path, path_ident(local_root))
    df = cache.get(key)
    if df is None:
        stale = [k for k in cache if k[0] == key_path]
        for k in stale:
            del cache[k]
        if stale:
            spark.catalog.refreshByPath(local_root)
        df = build()
        cache[key] = df
    return df


def memoized_parquet(spark, path: str):
    """``spark.read.parquet`` through the session plan memo
    (:func:`memoized_read`).  Non-local paths (s3a://, hdfs://) bypass
    the memo: their identity cannot be stat'd cheaply.  A miss reads
    the schema Spark wrote into a data file's footer
    (:func:`footer_schema`) instead of running Spark's schema-inference
    job; a path without one (no data file yet, or parquet written by
    another engine) is inferred as before."""
    local = try_local_path(path)
    if local is None:
        return spark.read.parquet(path)

    def build():
        schema = footer_schema(local)
        reader = spark.read if schema is None else spark.read.schema(schema)
        return reader.parquet(path)

    return memoized_read(spark, path, local, build)


_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def footer_schema(local: str):
    """The Spark schema of the first parquet data file at or below the
    local path ``local``, read from the footer metadata Spark writes
    (pyarrow reads one footer; Spark's own inference runs a job for
    it), or None when there is no data file or it carries no Spark
    schema.  Partition columns are not in it: the reader adds them from
    the directory names, as it does for an inferred schema."""
    import json

    import pyarrow.parquet as pq
    from pyspark.sql.types import StructType

    if os.path.isfile(local):
        files = [local]
    else:
        files = []
        for base, dirs, names in os.walk(local):
            # Spark's hidden-file rule: skip _ and . names, except
            # partition directories (``_batch=<id>``)
            dirs[:] = sorted(d for d in dirs if "=" in d or not d.startswith(("_", ".")))
            files = [
                os.path.join(base, n)
                for n in sorted(names)
                if n.endswith(".parquet") and not n.startswith(("_", "."))
            ]
            if files:
                break
    if not files:
        return None
    raw = (pq.read_schema(files[0]).metadata or {}).get(_SPARK_SCHEMA_KEY)
    return StructType.fromJson(json.loads(raw)) if raw else None


def release(*frames) -> None:
    """Free materialized frames now, not when the JVM garbage-collects
    them: a ``persist()``ed frame leaves the CacheManager, a
    ``localCheckpoint()`` frame drops its RDD's blocks, ``None`` is
    skipped.  The package's one release call, under one rule:

    - a frame read only inside a call is released before it returns;
    - a frame the returned lazy plan reads is not persisted, or the
      output is materialized and the frame released;
    - a frame handed back is the caller's ("caller owns" in its docs);
    - frames a declared query shares across calls (the dedup family's,
      the media hashes) stay with the CacheManager, which reuses them.

    Persist or checkpoint: under AQE each reference to a persisted
    frame not yet cached runs a cache-stage job of its own; a toy frame
    read three times in one query took 7 jobs persisted, 5 checkpointed,
    6 recomputed.  Release a checkpoint only when no plan reads it again."""
    from pyspark import StorageLevel

    for df in frames:
        if df is None:
            continue
        if df.storageLevel != StorageLevel.NONE:
            # a persist() over any plan, a local checkpoint's included
            df.unpersist(blocking=False)
            continue
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)


def read_batch(spark, store: str, batch_id: str):
    """The stored rows of ONE ``_batch=<id>`` partition, addressed by
    its DIRECTORY, or None when the batch was never written.  Note the
    partition columns themselves are not in the result (the directory
    is below them) — callers re-attach ``_batch`` as a literal when
    they need it."""
    return read_optional_parquet(spark, batch_dir(store, batch_id))


def write_batch_partitioned(
    df,
    path: str,
    *,
    mode: str,
    partition_cols: tuple[str, ...] = ("_batch",),
    repartition_cols: tuple[str, ...] | None = None,
) -> None:
    """The shared store write: ``mode='append'`` is a DYNAMIC partition
    overwrite (only the partitions the incoming rows touch are
    replaced — idempotent batch re-runs), ``mode='overwrite'`` a
    static one (the whole path).  Any other string raises — falling
    through to a static overwrite would silently wipe every previously
    appended batch.  ``repartition_cols`` aligns tasks with output
    partitions where the caller wants one file per partition instead
    of one per upstream task (the high-cardinality-partition stores;
    low-cardinality stores skip it so a big batch keeps its write
    parallelism)."""
    if mode not in ("overwrite", "append"):
        raise ValueError(
            f"unknown store write mode {mode!r}; expected 'overwrite' "
            "or 'append'"
        )
    if repartition_cols:
        df = df.repartition(*repartition_cols)
    (
        df.write.mode("overwrite")
        .option(
            "partitionOverwriteMode",
            "dynamic" if mode == "append" else "static",
        )
        .partitionBy(*partition_cols)
        .parquet(path)
    )


def carry_surviving(prev, incoming_keys, key_col: str):
    """The upsert carry: rows of the stored batch whose key the
    incoming (re-)run did NOT produce, materialized so the caller's
    dynamic overwrite can rewrite the very partition this reads
    (Spark refuses a write whose plan still scans the destination;
    one batch partition, small).  ``incoming_keys`` must be the SAME
    materialized snapshot the caller writes — a non-deterministic
    input plan re-evaluated per consumer could carry a key the write
    also produced (duplicate) or drop one it didn't (deletion).  The
    result is a local checkpoint the caller owns."""
    return prev.join(incoming_keys, key_col, "left_anti").localCheckpoint()


LEASE_FILE = "_LEASE"


def acquire_lease(
    root: str, *, ttl_s: float = 600.0, owner: str | None = None
) -> dict:
    """Take the store's maintenance lease — the opt-in mutual-exclusion
    layer ABOVE the optimistic checks, closing their documented
    read-validate-commit window (``mllib_ann._check_no_concurrent_append``):
    a writer/compactor holding a live lease knows no other
    lease-respecting maintenance can commit concurrently, full stop.

    Protocol: a JSON record ``{token, owner, expires_at}`` in
    ``<root>/_LEASE``, mutated only under an ``flock`` on
    ``_LEASE.lock`` — on one host (the sandbox and any single-driver
    deployment) the flock makes acquire/steal/release genuinely
    atomic, with none of the TOCTOU residue the optimistic checks
    carry.  A live foreign lease raises (retry after the holder
    finishes or the TTL lapses); an EXPIRED one is stolen with a loud
    :mod:`warnings` warning — the TTL is the crash-recovery path, so
    pick it above the longest expected maintenance pass.  Fencing: the
    holder re-verifies its token at the commit point
    (:func:`verify_lease`) — a holder that outlived its TTL and got
    stolen from must NOT commit.  Cross-host object-store deployments
    replace this file+flock with the store's conditional-put; the
    record layout is the same."""
    import fcntl
    import json
    import time
    import warnings

    os.makedirs(root, exist_ok=True)
    path = os.path.join(root, LEASE_FILE)
    rec = {
        "token": os.urandom(8).hex(),
        "owner": owner or f"pid-{os.getpid()}",
        "expires_at": time.time() + ttl_s,
    }
    with open(path + ".lock", "w") as lk:
        fcntl.flock(lk, fcntl.LOCK_EX)
        cur = None
        if os.path.exists(path):
            try:
                with open(path) as fh:
                    cur = json.load(fh)
            except ValueError:
                cur = None  # torn write: treat as expired, steal below
        if cur is not None and cur.get("expires_at", 0) > time.time():
            raise RuntimeError(
                f"store at {root!r} is leased by "
                f"{cur.get('owner', '?')!r} until epoch "
                f"{cur.get('expires_at')} — another maintenance pass "
                "is running. Retry after it finishes (or after the "
                "TTL lapses; a crashed holder's lease is stolen then)."
            )
        if cur is not None:
            warnings.warn(
                f"stealing expired maintenance lease on {root!r} "
                f"(holder {cur.get('owner', '?')!r} expired at "
                f"{cur.get('expires_at')})",
                stacklevel=2,
            )
        tmp = path + f".tmp-{os.getpid()}"
        with open(tmp, "w") as fh:
            json.dump(rec, fh)
        os.replace(tmp, path)
    return rec


def verify_lease(root: str, token: str) -> None:
    """The fencing check around commit points: raise if the lease is
    no longer ours (TTL lapsed and a steal happened, or the file is
    gone/torn).  Called BEFORE each commit (nothing written yet —
    safe to just retry with a longer ``lease_ttl_s``) and once AFTER
    the pass's last write, where a raise means the commits already
    landed but may interleave a thief's pass: treat it as a
    quarantine signal — compact the store, then re-run; both the
    append (per-vector upsert) and the rebuild are idempotent."""
    import json
    import time

    path = os.path.join(root, LEASE_FILE)
    try:
        with open(path) as fh:
            cur = json.load(fh)
    except (FileNotFoundError, ValueError):
        cur = None
    if cur is None or cur.get("token") != token:
        raise RuntimeError(
            f"maintenance lease on {root!r} was lost (stolen after TTL "
            "expiry, or removed) — this pass must stop. Anything it "
            "already committed may interleave the new holder's pass: "
            "compact the store, then re-run with a longer lease_ttl_s "
            "(the write is idempotent)."
        )
    if cur.get("expires_at", 0) <= time.time():
        raise RuntimeError(
            f"maintenance lease on {root!r} expired mid-pass — this "
            "pass must stop (a concurrent steal may already be "
            "writing). Compact the store, then re-run with a longer "
            "lease_ttl_s (the write is idempotent)."
        )


def release_lease(root: str, token: str) -> None:
    """Drop the lease if it is still ours; a lease that was stolen
    after our TTL lapsed belongs to the thief and is left alone (the
    verify at the commit point already raised for that holder)."""
    import fcntl
    import json

    path = os.path.join(root, LEASE_FILE)
    with open(path + ".lock", "w") as lk:
        fcntl.flock(lk, fcntl.LOCK_EX)
        try:
            with open(path) as fh:
                cur = json.load(fh)
        except (FileNotFoundError, ValueError):
            return
        if cur.get("token") == token:
            os.unlink(path)


def held_lease(root: str, *, ttl_s: float = 600.0):
    """Context manager over one held maintenance lease: acquire →
    yield the ``(root, token)`` fence the pass verifies at its commit
    points → release.  The ONE implementation of the
    acquire/try/finally-release shape every leased entry point needs —
    a protocol change (steal semantics, fencing, TTL handling) lands
    here once instead of in each store's wrapper."""
    from contextlib import contextmanager

    @contextmanager
    def _held():
        rec = acquire_lease(root, ttl_s=ttl_s)
        try:
            yield (root, rec["token"])
        finally:
            release_lease(root, rec["token"])

    return _held()


def maintenance_root(store: str) -> str:
    """Where a store's maintenance lease lives when the DATA path
    itself is the static-overwrite blast radius: a SIBLING directory
    ``<store>.maint``, which no store write can ever delete.  (The
    IVF-PQ index instead keeps ``_LEASE`` inside its root and stashes
    it through flat overwrites — its pointer layout already reserves
    the root; flat batch-partitioned stores like the split store have
    no such reservation, so the sibling is the simpler invariant.)
    Local paths and ``file://`` URIs only — an object-store deployment
    replaces the file+flock protocol with its conditional-put."""
    local = try_local_path(store)
    if local is None:
        raise NotImplementedError(
            f"lease= is implemented for local paths and file:// URIs, "
            f"got {store!r}; an object-store deployment plugs its "
            "conditional-put into the same lease record"
        )
    return local.rstrip("/") + ".maint"
