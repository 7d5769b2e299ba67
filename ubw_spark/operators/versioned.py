"""Versioned directory layout for persisted index stores.

Every long-lived index in this repo (MinHash-LSH bands/docs, IVF cell
layout, IVFPQ code layout) needs the same three lifecycle properties at
object-store scale:

- **rewrites never mutate a directory a reader may hold open** — a new
  version directory is written complete, then a one-line ``_CURRENT``
  manifest flips to it;
- **the flip is a single small-object write** — atomic locally via
  ``os.replace``, atomic on S3/GCS as one PUT (directory renames there
  are copy+delete and race readers — the reason rmtree+move is banned);
- **the previous version survives one rewrite cycle** as a grace copy
  for readers that resolved the manifest just before the flip; older
  versions are garbage-collected.

This is the lakehouse-log pointer trick (Delta/Iceberg metadata file)
reduced to the one pointer an index needs.  Readers resolve ONCE per
query so a mid-query flip cannot split a plan across versions.

A manifest that exists but does not parse RAISES: falling back to an
older layout on corruption would silently serve stale data (documents
compacted out would resurface) — absent-manifest and corrupt-manifest
are different conditions, and only the first means "legacy flat
layout".

Every store writes through ONE cycle, :class:`StoreWriter`, and loads
through ONE reader, :func:`read_store`.  The writer claims a fresh
version dir by exclusive ``mkdir`` (two writers never share one), lands
data + ``_SCHEMA`` pin + params sidecar there, then flips the manifest
only if it still names the version the writer's caller READ — Delta's
put-if-absent commit reduced to one pointer.  A writer that lost that
race raises :class:`StoreConflictError` and leaves the winner's version
live: an update is refused loudly, never lost silently.
"""

from __future__ import annotations

import os
import posixpath
import re
import shutil

#: Manifest file at the store root naming the live version directory.
MANIFEST = "_CURRENT"
#: {5,} not {5}: version_dir's {:05d} is a MINIMUM width — v100000 is
#: six digits, and a five-digit-only match would make the legacy sweep
#: delete the live version dir the moment a long-lived store passes
#: v99999.
_VDIR_RE = re.compile(r"^v(\d{5,})$")


def version_dir(path: str, version: int) -> str:
    return posixpath.join(path, f"v{version:05d}")


def current_version(path: str) -> int | None:
    """The live version number from ``path/_CURRENT``, or None when the
    store has no manifest (legacy flat layout, or not written yet) —
    the resolve every reader does ONCE per query."""
    return _read_manifest(path)


def _read_manifest(path: str) -> int | None:
    try:
        with open(posixpath.join(path, MANIFEST)) as f:
            raw = f.read().strip()
    except FileNotFoundError:
        return None
    try:
        return int(raw)
    except ValueError:
        raise ValueError(
            f"corrupt index manifest {path}/{MANIFEST}: {raw!r} — refusing "
            "to fall back to an older layout; restore the manifest to the "
            "latest complete vNNNNN directory"
        ) from None


def resolve_root(path: str) -> str:
    """Directory holding the live store: the manifest's version dir, or
    ``path`` itself for a pre-manifest flat layout (still readable)."""
    return _root(path, current_version(path))


def _root(path: str, version: int | None) -> str:
    return path if version is None else version_dir(path, version)


def write_manifest(path: str, version: int) -> None:
    """Atomically flip the pointer (write temp, rename over
    ``_CURRENT``; one PUT on an object store)."""
    os.makedirs(path, exist_ok=True)
    tmp = posixpath.join(path, MANIFEST + ".tmp")
    with open(tmp, "w") as f:
        f.write(str(version))
    os.replace(tmp, posixpath.join(path, MANIFEST))


def gc_versions(path: str, keep_from: int) -> None:
    """Delete version dirs older than ``keep_from`` (grace policy: the
    committing writer passes the version it replaced, which survives
    one cycle for in-flight readers)."""
    for name in os.listdir(path):
        m = _VDIR_RE.match(name)
        if m and int(m.group(1)) < keep_from:
            shutil.rmtree(posixpath.join(path, name))


def read_params(
    path: str,
    sidecar: str | None,
    kind: str,
    *,
    batch_id: int | None = None,
    required: bool = True,
) -> tuple[dict, int | None] | None:
    """``(params, version)`` of the live store, the manifest resolved
    ONCE.  ``sidecar=None`` reads no params (``{}``); ``required=False``
    tolerates a pre-sidecar store (``{}``) instead of raising.

    The one replay check: with ``batch_id`` at or below the sidecar's
    ``last_batch_id`` high-water mark the batch was already folded in
    (foreachBatch is at-least-once), and this returns None — the
    caller's append is a no-op before anything is written."""
    version = current_version(path)
    params: dict = {}
    if sidecar is not None:
        root = _root(path, version)
        if required:
            params = read_sidecar(root, sidecar, kind)
        else:
            params = _load_json(posixpath.join(root, sidecar)) or {}
    last = params.get("last_batch_id")
    if batch_id is not None and last is not None and batch_id <= last:
        return None
    return params, version


def read_store(
    spark,
    path: str,
    sidecar: str | None,
    kind: str,
    *,
    subs: tuple[str, ...] | None = None,
    batch_id: int | None = None,
    required: bool = True,
):
    """``(df, params, version)`` of the live store — sidecar and data
    from the SAME version root (two resolves could straddle a rewrite
    and pin one version's params onto another's rows).  With ``subs``
    (subdirectory stores), ``df`` is a tuple of frames, None for a
    subdirectory the version lacks.  None on a replayed ``batch_id``
    (see :func:`read_params`)."""
    got = read_params(
        path, sidecar, kind, batch_id=batch_id, required=required
    )
    if got is None:
        return None
    params, version = got
    root = _root(path, version)
    if subs is None:
        return read_pinned_parquet(spark, root), params, version
    dirs = [posixpath.join(root, s) for s in subs]
    df = tuple(
        read_pinned_parquet(spark, d) if os.path.isdir(d) else None
        for d in dirs
    )
    return df, params, version


class StoreConflictError(RuntimeError):
    """A store writer lost the commit race: the manifest moved past the
    version its caller read, so flipping would drop the winner's
    update."""


#: :class:`StoreWriter` ``version`` default: a full rebuild reads
#: nothing, so it commits against whatever is live when it opens.
_AT_OPEN = object()


class StoreWriter:
    """The one write cycle of every versioned store::

        with StoreWriter(path, PARAMS_FILE, version, params=p) as w:
            w.write(frame.coalesce(1))

    ``version`` is what the caller READ (:func:`read_store`); omit it
    for a full rebuild.  On entry a fresh ``vNNNNN`` dir is claimed by
    exclusive ``mkdir``, numbered above both that version and every
    dir already present — a crashed attempt's torn dir is skipped,
    never reused, and no step of the cycle deletes the claimed dir.

    In the block, :meth:`write` lands one data write plus its
    ``_SCHEMA`` pin; :meth:`carry_over` first hardlinks the read
    version's files in (append-through-rewrite).  ``w.params`` may be
    set late (stats observed during the write).  On a clean exit:

    - the params sidecar, carrying the ``last_batch_id`` high-water
      mark forward (``batch_id`` when given, else the read version's);
    - compare-before-flip under a lock: the manifest must still name
      the read version, else :class:`StoreConflictError` naming the
      store;
    - GC below the read version (it stays one cycle as the readers'
      grace copy) and the sweep of the NAMED pre-manifest flat stores
      (``legacy_names`` exact dir names, ``legacy_prefixes`` dir-name
      prefixes like ``ivf_cell=``) — never anything unnamed: the root
      may hold user co-located dirs (backups, checkpoints).

    An exception in the block commits nothing: the live version stays
    byte-identical and the claimed dir is GC'd by a later cycle.  A
    writer two or more commits behind may find its dir collected
    under it; it would lose the compare anyway."""

    def __init__(
        self,
        path: str,
        sidecar: str | None,
        version=_AT_OPEN,
        *,
        params: dict | None = None,
        batch_id: int | None = None,
        legacy_names: tuple[str, ...] = (),
        legacy_prefixes: tuple[str, ...] = (),
    ) -> None:
        self.path = path
        self.sidecar = sidecar
        self.params = {} if params is None else params
        self.batch_id = batch_id
        self._read = version
        self._legacy_names = legacy_names
        self._legacy_prefixes = legacy_prefixes
        self._appending = False

    def __enter__(self) -> "StoreWriter":
        os.makedirs(self.path, exist_ok=True)
        # a rebuild resets the high-water mark; read-modify-writes carry it
        self._carry = self._read is not _AT_OPEN
        if not self._carry:
            self._read = current_version(self.path)
        taken = [
            int(m.group(1))
            for m in map(_VDIR_RE.match, os.listdir(self.path))
            if m
        ]
        n = 1 + max(taken + [-1 if self._read is None else self._read])
        while True:
            self.version, self.root = n, version_dir(self.path, n)
            try:
                os.mkdir(self.root)
                return self
            except FileExistsError:  # a concurrent writer claimed it
                n += 1

    def carry_over(self) -> None:
        """Hardlink every file of the read version into this one
        (:func:`link_carryover`, minus the sidecar this cycle
        rewrites); later :meth:`write` calls APPEND beside them,
        checked against the carried ``_SCHEMA`` pin."""
        skip = () if self.sidecar is None else (self.sidecar,)
        src = _root(self.path, self._read)
        link_carryover(src, self.root, skip_files=skip)
        self._appending = True

    def write(
        self, df, sub: str | None = None, partition_by: str | None = None
    ) -> None:
        """One data write + its ``_SCHEMA`` pin into this version (or
        its ``sub`` directory).  The caller shapes the frame
        (``coalesce(1)``, ``repartition(col)``)."""
        out = self.root if sub is None else posixpath.join(self.root, sub)
        # an append even into the fresh claimed dir (nothing pinned there
        # yet): "overwrite" would delete it first and briefly free the
        # claimed version number
        append_pinned(df, out, partition_by)
        if not self._appending:
            parts = () if partition_by is None else (partition_by,)
            pin_schema(out, df.schema, parts)

    def __exit__(self, exc_type, exc, tb) -> bool:
        if exc_type is None:
            self._commit()
        return False

    def _commit(self) -> None:
        if self.sidecar is not None:
            params = dict(self.params)
            mark = self.batch_id
            if mark is None and self._carry:
                read_root = _root(self.path, self._read)
                prev = _load_json(posixpath.join(read_root, self.sidecar))
                mark = (prev or {}).get("last_batch_id")
            if mark is not None:
                params["last_batch_id"] = mark
            write_sidecar(self.root, self.sidecar, params)
        import fcntl

        with open(posixpath.join(self.path, MANIFEST + ".lock"), "a") as lock:
            fcntl.flock(lock, fcntl.LOCK_EX)  # released on close
            live = _read_manifest(self.path)
            if live != self._read:
                raise StoreConflictError(
                    f"store {self.path}: read version {self._read}, but "
                    f"version {live} committed first — v{self.version} "
                    "NOT committed (it would drop that update); reload "
                    "and retry"
                )
            write_manifest(self.path, self.version)
            if self._read is not None:  # else: first versioned write
                self._collect()

    def _collect(self) -> None:
        # under the commit lock: two committers must not GC one dir
        gc_versions(self.path, self._read)
        named, prefixes = self._legacy_names, self._legacy_prefixes
        if named or prefixes:
            for name in os.listdir(self.path):
                p = posixpath.join(self.path, name)
                if not os.path.isdir(p) or _VDIR_RE.match(name):
                    continue
                if name in named or name.startswith(prefixes):
                    shutil.rmtree(p)


def append_pinned(df, data_dir: str, partition_by: str | None = None) -> None:
    """Append ``df`` INTO an already-resolved data dir — the additive
    in-place appends (``append_minhash_batch``, ``append_ivf_batch``)
    and carried-over versions.  Every batch column must read back
    under the dir's ``_SCHEMA`` pin: a drifted dtype (or a column the
    pin lacks) raises BEFORE any file lands, instead of being silently
    misread (or hidden) through the stale pin; a pinned column the
    batch omits reads back null, as it would under inference.  The pin
    is re-derived after the write, so an integral partition value past
    int32 widens it to bigint the way inference would."""
    parts = () if partition_by is None else (partition_by,)
    pinned = _load_pin(data_dir)
    if pinned is not None:
        want = _shape(pinned, parts)
        got = _shape(readback_schema(df.schema, parts), parts)
        drift = {c: t for c, t in got.items() if want.get(c) != t}
        if drift:
            raise ValueError(
                f"schema drift appending into {data_dir}: batch columns "
                f"{drift} do not read back under the live {SCHEMA_FILE} "
                f"pin {want}; cast the batch or rebuild the store"
            )
    w = df.write.mode("append")
    if partition_by is not None:
        w = w.partitionBy(partition_by)
    w.parquet(data_dir)
    if pinned is not None:
        pin_schema(data_dir, pinned, parts)


def link_carryover(
    src_root: str, dst_root: str, *, skip_files: tuple[str, ...] = ()
) -> None:
    """Hardlink every data file of the live version into a new version
    dir — the carryover half of an APPEND-through-rewrite cycle: the
    new version = links to all old files + the batch's new files +
    a fresh sidecar, then one manifest flip.  A crash anywhere before
    the flip leaves the live version byte-identical (no in-place
    append ever touches a directory a reader may hold open), which is
    the property plain ``mode("append")`` into the resolved root
    cannot give when a sidecar must change in the same step.

    Cost is O(files) metadata operations, never O(bytes): hardlinks
    locally / HDFS; on S3 or GCS the equivalent is a server-side
    CopyObject per file (no data through compute) or, better, a
    file-list manifest — this module's pointer trick one level down.
    Falls back to a real copy when the filesystem refuses links
    (cross-device).

    ``skip_files``: exact file names NOT carried over (sidecars the
    caller rewrites).  Version dirs, ``_CURRENT`` (and its lock) and
    ``*.tmp`` under ``src_root`` are always skipped — they only appear
    when the source is a legacy flat root (src == store path)."""
    for root, dirs, files in os.walk(src_root):
        dirs[:] = [d for d in dirs if not _VDIR_RE.match(d)]
        rel = os.path.relpath(root, src_root)
        out = dst_root if rel == "." else posixpath.join(dst_root, rel)
        os.makedirs(out, exist_ok=True)
        for f in files:
            if f.startswith(MANIFEST) or f.endswith(".tmp"):
                continue
            if f in skip_files:
                continue
            src = os.path.join(root, f)
            dst = posixpath.join(out, f)
            try:
                os.link(src, dst)
            except OSError:
                shutil.copy2(src, dst)


def compact_partitioned_store(
    spark,
    path: str,
    drop_ids,
    id_col: str,
    partition_col: str,
    *,
    sidecar: str,
    kind: str,
    broadcast_drops: bool = True,
    legacy_prefixes: tuple[str, ...] = (),
    restat=None,
) -> None:
    """The shared compaction body for partitionBy-laid-out stores (IVF
    cells, IVFPQ codes, the term index): anti-join ``drop_ids`` out of
    the live version, rewrite partition-preserving into a new version
    dir, flip the manifest.  ``broadcast_drops=False`` plans a shuffled
    anti-join for corpus-fraction drop sets — the same two-posture rule
    as every compaction here.

    The params sidecar carries verbatim (compaction changes membership,
    never geometry) unless ``restat(new_root, schema, params)`` returns
    fresh params — it runs after the rewrite lands and BEFORE the flip,
    the one correct place to regenerate stats for the new version."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import broadcast

    live, params, version = read_store(spark, path, sidecar, kind)
    drops = drop_ids.select(F.col(drop_ids.columns[0]).alias(id_col))
    maybe_bc = broadcast if broadcast_drops else (lambda d: d)
    kept = live.join(maybe_bc(drops), id_col, "left_anti")
    with StoreWriter(
        path, sidecar, version, params=params, legacy_prefixes=legacy_prefixes
    ) as w:
        w.write(kept.repartition(partition_col), partition_by=partition_col)
        if restat is not None:
            w.params = restat(w.root, live.schema, params)


def store_stats(path: str) -> dict:
    """Maintenance report for a versioned store, from FS METADATA only
    (no data read — the footer_bounds discipline): the live version,
    every version dir's file count and byte size, and whether legacy
    flat stores remain at the root.  What an OPTIMIZE/GC scheduler
    consults to decide when a rewrite pays for itself."""
    versions: dict[int, dict] = {}
    legacy: list[str] = []
    for name in sorted(os.listdir(path)):
        p = posixpath.join(path, name)
        if not os.path.isdir(p):
            continue
        m = _VDIR_RE.match(name)
        if not m:
            legacy.append(name)
            continue
        files = n_bytes = 0
        for root, _dirs, fnames in os.walk(p):
            for f in fnames:
                if f.endswith(".parquet"):
                    files += 1
                    n_bytes += os.path.getsize(os.path.join(root, f))
        versions[int(m.group(1))] = {"files": files, "bytes": n_bytes}
    return {
        "current": current_version(path),
        "versions": versions,
        "legacy_dirs": legacy,
    }


#: Read-back schema sidecar written next to a store's data files.
#: Leading underscore keeps it out of Spark's data-file listing (the
#: ``_SUCCESS`` convention).
SCHEMA_FILE = "_SCHEMA"


def readback_schema(
    written_schema,
    partition_cols: tuple[str, ...] = (),
    data_dir: str | None = None,
):
    """The schema ``spark.read.parquet`` would INFER for a store just
    written with ``written_schema`` (optionally ``partitionBy``-ed on
    ``partition_cols``) — constructed without reading any footer, so a
    writer can pin it as a sidecar and spare every later reader the
    schema-inference job (guide §6: a per-``spark.read`` driver job of
    ~0.1-0.3 s that a store-lifecycle query pays up to 9×).

    Rules mirrored from Spark's parquet read path, pinned per store by
    tests/test_store_schema_pin.py against actual inference:

    - data columns keep their written order and dtype;
    - partition columns move to the END (partition discovery appends
      them); integral ones are typed the way partition TYPE inference
      types the written ``col=value`` directory names under
      ``data_dir``: ``IntegerType`` when every value fits int32, else
      ``LongType`` (no ``data_dir``: ``IntegerType``).
    """
    from pyspark.sql import types as T

    integral = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    data = [
        T.StructField(f.name, f.dataType, f.nullable, f.metadata)
        for f in written_schema
        if f.name not in partition_cols
    ]
    parts = []
    for c in partition_cols:
        t = written_schema[c].dataType
        if isinstance(t, integral):
            t = _partition_int_type(data_dir, c)
        parts.append(T.StructField(c, t, True))
    return T.StructType(data + parts)


def _partition_int_type(data_dir: str | None, col: str):
    """Spark's partition-value inference for an integral column from
    the top-level ``col=value`` dirs (every store here partitions on
    one column): Integer unless some value needs 64 bits."""
    from pyspark.sql import types as T

    prefix = col + "="
    if not (data_dir and os.path.isdir(data_dir)):
        return T.IntegerType()
    for name in os.listdir(data_dir):
        v = name[len(prefix):]
        if (
            name.startswith(prefix)
            and v != "__HIVE_DEFAULT_PARTITION__"
            and not -(2**31) <= int(v) < 2**31
        ):
            return T.LongType()
    return T.IntegerType()


def _shape(schema, partition_cols: tuple[str, ...]) -> dict[str, str]:
    """What a pinned read depends on: each column's dtype by NAME
    (parquet resolves columns by name, so file column order is free; an
    integral partition column's int/bigint follows its values)."""
    return {
        f.name: "integral"
        if f.name in partition_cols
        and f.dataType.simpleString() in ("int", "bigint")
        else f.dataType.simpleString()
        for f in schema
    }


def pin_schema(
    data_dir: str, written_schema, partition_cols: tuple[str, ...] = ()
) -> None:
    """Persist the read-back schema of the store at ``data_dir`` so
    :func:`read_pinned_parquet` can skip footer inference.  Call AFTER
    the data write with the schema of the frame that was written (and
    the ``partitionBy`` columns, if any)."""
    import json

    os.makedirs(data_dir, exist_ok=True)
    schema = readback_schema(written_schema, partition_cols, data_dir)
    tmp = posixpath.join(data_dir, SCHEMA_FILE + ".tmp")
    with open(tmp, "w") as f:
        json.dump(schema.jsonValue(), f)
    os.replace(tmp, posixpath.join(data_dir, SCHEMA_FILE))


def _load_pin(data_dir: str):
    """The ``_SCHEMA`` pin at ``data_dir``, or None for an unpinned
    store."""
    from pyspark.sql import types as T

    raw = _load_json(posixpath.join(data_dir, SCHEMA_FILE))
    return None if raw is None else T.StructType.fromJson(raw)


def _load_json(p: str):
    """JSON file contents, or None when the file is absent."""
    import json

    try:
        with open(p) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def read_pinned_parquet(spark, data_dir: str):
    """``spark.read.parquet(data_dir)`` minus the schema-inference job
    when the writer pinned a ``_SCHEMA`` sidecar (guide §6 — predicate
    pushdown, partition discovery and pruning are unchanged; only the
    footer-read inference pass is skipped).  Stores written before
    pinning existed fall back to plain inference, so this is always
    safe to call on a store directory."""
    schema = _load_pin(data_dir)
    if schema is None:
        return spark.read.parquet(data_dir)
    return spark.read.schema(schema).parquet(data_dir)


def write_sidecar(root: str, filename: str, params: dict) -> None:
    """JSON params sidecar inside an ALREADY-RESOLVED version root —
    the shared writer every store's shape/stats pin goes through."""
    import json

    os.makedirs(root, exist_ok=True)
    with open(posixpath.join(root, filename), "w") as f:
        json.dump(params, f)


def read_sidecar(root: str, filename: str, kind: str) -> dict:
    """Sidecar from an ALREADY-RESOLVED version root.  Callers must
    resolve the store root ONCE and read sidecar + data from that same
    root — resolving separately per read races a concurrent rewrite
    (the store could flip versions between the two resolves).  Raises
    with the store ``kind`` in the message when missing: probing with
    guessed params is the silent-zero/undercount failure."""
    params = _load_json(posixpath.join(root, filename))
    if params is None:
        raise ValueError(
            f"{kind} store at {root} has no {filename} sidecar — not a "
            f"{kind} store (or written by hand); refusing to guess params"
        )
    return params


def bless_sidecar(path: str, filename: str, params: dict, kind: str) -> None:
    """One-shot migration for stores written BEFORE params pinning
    existed: writes the params sidecar into the store's CURRENT version
    root from caller-supplied params, so probe/append/compact stop
    refusing a legacy store without forcing a full rebuild.

    One refusal keeps this from becoming a footgun: an EXISTING pin is
    never overwritten (silently drifting a live pin is exactly the
    mis-score failure the sidecars exist to prevent — rebuild instead).
    Unversioned paths (no ``_CURRENT`` manifest) are accepted on
    purpose: the pre-manifest FLAT layout is precisely what a legacy
    store looks like, and resolve_root writes the pin into the flat dir
    itself, where flat-layout readers will find it.  The caller owns
    BOTH claims — that the path really is a store, and that ``params``
    match what it was built with; bless an empty dir or guessed params
    and every probe inherits the lie."""
    root = resolve_root(path)
    stored = _load_json(posixpath.join(root, filename))
    if stored is not None:
        raise ValueError(
            f"{kind} store at {path} already has a {filename} pin "
            f"({stored!r}) — bless_sidecar only migrates UNpinned "
            "legacy stores; rebuild the index to change params"
        )
    write_sidecar(root, filename, params)
