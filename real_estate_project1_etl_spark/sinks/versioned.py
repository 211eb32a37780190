"""Versioned parquet tables: the engine's one commit protocol.

Every table the engine commits to — the ingest table, the rollup
summary, maintained views, SCD1/SCD2 dimensions — is this minimal
manifest-based table format in the spirit of Delta/Iceberg (public
designs: Armbrust et al., "Delta Lake: High-Performance ACID Table
Storage over Cloud Object Stores", VLDB 2020), built only on operations
every storage backend provides atomically — write-a-new-object and
create-an-object-only-if-absent.

Layout::

    table/
      data/commit-<token>/part-*.parquet   immutable data files
      _manifests/v<N>.json                 file list + txn watermarks of version N
      _CURRENT                             hint: a recently committed version

Commit protocol (optimistic, any number of writers):

1. Spark writes data files into a fresh ``data/commit-<token>/`` dir —
   never touches live files, so a crash leaves invisible garbage only.
2. The complete manifest is written to a temp file and hard-linked into
   place as ``v<base+1>.json``.  The exclusive create IS the commit: it
   lands whole, or fails with :class:`CommitConflict` when another writer
   already committed on top of the same base — a writer on a stale base
   can never drop another writer's files or watermarks.
3. ``_CURRENT`` is replaced (``os.replace``) as a hint.  Readers start
   from it and roll forward while ``v<N+1>.json`` exists, so a crash
   before the hint update, or a late hint from a slow writer, costs an
   ``exists()`` probe, never a commit.

A lost race is retried on the new head: appends rebase their file list
(:func:`append`, :func:`idempotent_append`); read-modify-write commits
rebuild from the new head (:func:`commit_replace` — upsert, SCD2,
compaction, Z-order, rollup folds, view refreshes).  Both re-check the
per-writer transaction watermark on the head they commit on
(:func:`_gate`), which makes streaming replay a no-op.

Reads take the manifest's explicit file list (``spark.read.parquet(*files)``)
— no directory listing on the read path.  Old versions stay readable
(time travel) until :func:`vacuum`.

These helpers run on the DRIVER (manifest I/O is a handful of small
files); only the parquet data files are written by executors.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import time
import uuid
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "CommitConflict",
    "append",
    "commit_replace",
    "compact",
    "create_or_replace",
    "current_version",
    "history",
    "idempotent_append",
    "optimize_zorder",
    "read_snapshot",
    "scd2_upsert",
    "stream_sink",
    "upsert",
    "vacuum",
    "zorder_key_expr",
]


class CommitConflict(RuntimeError):
    """Another writer committed on top of this commit's base — rebuild on
    the new head and retry."""


def _manifest_dir(path: str) -> str:
    return os.path.join(path, "_manifests")


def _manifest_path(path: str, version: int) -> str:
    return os.path.join(_manifest_dir(path), f"v{version:08d}.json")


def _current_path(path: str) -> str:
    return os.path.join(path, "_CURRENT")


def _manifest_versions(path: str) -> list[int]:
    """Versions with a published manifest (a directory listing: vacuum and
    the stale-hint fallback only, never the read path)."""
    mdir = _manifest_dir(path)
    names = os.listdir(mdir) if os.path.isdir(mdir) else []
    return sorted(
        int(n[1:-5]) for n in names if n.startswith("v") and n.endswith(".json")
    )


def current_version(path: str) -> int:
    """The committed head, or 0 if the table does not exist yet: the
    ``_CURRENT`` hint rolled forward over manifests published after it."""
    try:
        with open(_current_path(path)) as fh:
            v = int(fh.read().strip())
    except FileNotFoundError:
        v = 0
    if v and not os.path.exists(_manifest_path(path, v)):
        # a hint so stale that vacuum expired its version
        v = max(_manifest_versions(path), default=0)
    while os.path.exists(_manifest_path(path, v + 1)):
        v += 1
    return v


def _read_manifest(path: str, version: int) -> dict:
    with open(_manifest_path(path, version)) as fh:
        return json.load(fh)


def _write_data_files(df: DataFrame, path: str, n_files: int | None) -> list[str]:
    token = uuid.uuid4().hex[:12]
    commit_dir = os.path.join(path, "data", f"commit-{token}")
    out = df.coalesce(n_files) if n_files else df
    out.write.mode("error").parquet(commit_dir)
    return sorted(
        os.path.join("data", f"commit-{token}", f)
        for f in os.listdir(commit_dir)
        if f.endswith(".parquet")
    )


def _discard(path: str, files: list[str]) -> None:
    """Delete the commit dirs of files that no manifest will list."""
    for d in {os.path.dirname(f) for f in files}:
        shutil.rmtree(os.path.join(path, d), ignore_errors=True)


#: manifest stats are kept only for types whose min/max are JSON-exact and
#: whose comparison semantics match SQL's (lexicographic str, numeric)
_STATS_TYPES = (int, float, str)


def _collect_file_stats(path: str, files: list[str]) -> dict[str, dict]:
    """Per-file column min/max from the parquet footers (driver-side, one
    footer read per file — no data scan). This is the Delta/Iceberg
    data-skipping design: stats ride in the manifest, so a predicate
    prunes files during PLANNING, before Spark ever opens them.

    Columns with non-JSON-exact types (timestamps, binary, nested) or
    missing footer statistics simply have no entry — pruning treats
    absent stats as "file may match" (always safe).
    """
    import pyarrow.parquet as pq

    out: dict[str, dict] = {}
    for rel in files:
        meta = pq.ParquetFile(os.path.join(path, rel)).metadata
        cols: dict[str, list] = {}
        for rg in range(meta.num_row_groups):
            g = meta.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                st = col.statistics
                name = col.path_in_schema
                if st is None or not st.has_min_max or "." in name:
                    cols[name] = None  # nested / no stats -> unusable
                    continue
                mn, mx = st.min, st.max
                if isinstance(mn, bytes):
                    try:
                        mn, mx = mn.decode(), mx.decode()
                    except UnicodeDecodeError:
                        cols[name] = None
                        continue
                if not (
                    isinstance(mn, _STATS_TYPES) and isinstance(mx, _STATS_TYPES)
                ) or isinstance(mn, bool):
                    cols[name] = None
                    continue
                cur = cols.get(name)
                if cur is None and name in cols:
                    continue  # poisoned by an earlier row group
                cols[name] = (
                    [mn, mx]
                    if cur is None
                    else [min(cur[0], mn), max(cur[1], mx)]
                )
        out[rel] = {k: v for k, v in cols.items() if v is not None}
    return out


#: bloom sidecar config file name (table-level opt-in, see
#: :func:`set_bloom_columns`)
_BLOOM_CFG = "_bloom_cols.json"


def set_bloom_columns(
    path: str, cols: list[str], n_bits: int = 4096, n_hashes: int = 5
) -> None:
    """Opt the table into manifest BLOOM FILTERS for ``cols`` — the
    point-lookup complement to min/max stats.  Min/max prunes ranges; on a
    high-cardinality key whose values interleave across files (uuids, user
    ids) every file's [min, max] spans everything and range stats prune
    NOTHING — a per-file bloom answers "could value v be in this file?"
    probabilistically with no false negatives, so ``=`` predicates skip
    files the way Delta/Iceberg bloom indexes do.

    Size: ``n_bits/8`` bytes per column per file in the manifest (default
    512 B).  False-positive rate ~ (1-e^{-kn/m})^k — at 4096 bits / 5
    hashes, <1% up to ~400 distinct values per file; oversize ``n_bits``
    for bigger files.  Applies to commits made AFTER the call."""
    # fail fast at config time: bit positions index a bytearray(n_bits//8),
    # so a non-multiple-of-8 n_bits would crash every subsequent commit
    if n_bits <= 0 or n_bits % 8 != 0:
        raise ValueError(f"n_bits must be a positive multiple of 8, got {n_bits}")
    if n_hashes <= 0:
        raise ValueError(f"n_hashes must be positive, got {n_hashes}")
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, _BLOOM_CFG), "w") as fh:
        json.dump({"cols": list(cols), "n_bits": n_bits, "k": n_hashes}, fh)


def _bloom_config(path: str) -> dict | None:
    try:
        with open(os.path.join(path, _BLOOM_CFG)) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return None


def _bloom_positions(value, n_bits: int, k: int) -> list[int]:
    """k salted-md5 bit positions for a canonicalized value. Only int and
    str values participate (float equality pruning is a correctness trap:
    '1.0' vs '1' canonicalization differs by engine)."""
    import hashlib

    s = str(value)
    return [
        int(hashlib.md5(f"{salt}:{s}".encode()).hexdigest()[:15], 16) % n_bits
        for salt in range(k)
    ]


def _collect_file_blooms(path: str, files: list[str], cfg: dict) -> dict[str, dict]:
    """Per-file bloom bitsets for the configured columns.

    Driver-side single-column reads at commit time — the same cost class
    as a footer-stats pass for small commits.  At a 1000-executor scale the
    equivalent is a cluster-side ``groupBy(file)`` aggregate over the k
    hash positions with only the finished bitsets collected; the manifest
    format here is identical either way."""
    import pyarrow.parquet as pq

    n_bits, k = cfg["n_bits"], cfg["k"]
    out: dict[str, dict] = {}
    for rel in files:
        pf = pq.ParquetFile(os.path.join(path, rel))
        present = [c for c in cfg["cols"] if c in pf.schema_arrow.names]
        per: dict[str, str] = {}
        if present:
            tbl = pq.read_table(os.path.join(path, rel), columns=present)
            for col in present:
                vals = set(tbl.column(col).to_pylist())
                vals.discard(None)
                if any(not isinstance(v, (int, str)) or isinstance(v, bool) for v in vals):
                    continue  # unsupported type -> no bloom (never prunes)
                bits = bytearray(n_bits // 8)
                for v in vals:
                    for p in _bloom_positions(v, n_bits, k):
                        bits[p // 8] |= 1 << (p % 8)
                per[col] = bits.hex()
        out[rel] = per
    return out


def _bloom_may_contain(bloom_hex: str | None, cfg: dict | None, value) -> bool:
    """False only when the file's bloom PROVES the value absent (all-safe:
    missing bloom / config / unsupported value type -> may contain)."""
    if not bloom_hex or not cfg or not isinstance(value, (int, str)) or isinstance(value, bool):
        return True
    bits = bytes.fromhex(bloom_hex)
    return all(
        bits[p // 8] & (1 << (p % 8))
        for p in _bloom_positions(value, cfg["n_bits"], cfg["k"])
    )


def _file_survives(stats: dict | None, col: str, op: str, value) -> bool:
    """Conservative overlap test: False only when the file's [min, max]
    interval PROVES no row can satisfy ``col op value`` (NULLs never
    satisfy a comparison, so non-null min/max bounds are sufficient)."""
    if not stats or col not in stats:
        return True
    mn, mx = stats[col]
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
    return True  # unknown operator -> never prune


def _commit(
    path: str,
    base_version: int,
    files: list[str],
    op: str,
    txn: dict[str, int] | None = None,
) -> int:
    """Publish ``files`` as version ``base_version + 1``.

    Raises :class:`CommitConflict` when that version already exists, i.e.
    ``base_version`` is no longer the head.  A crash before the manifest
    is published leaves only unreferenced data files; a crash after it
    leaves a committed version that the ``_CURRENT`` hint lags behind
    (readers roll forward over it).
    """
    version = base_version + 1
    base = _read_manifest(path, base_version) if base_version else {}
    # per-file min/max stats for manifest-level data skipping: carried
    # forward for files retained from the base version, read from the
    # parquet footers (one footer each, driver-side) for new files
    prior_stats = base.get("file_stats", {})
    new = [f for f in files if f not in prior_stats]
    file_stats = {
        **{f: prior_stats[f] for f in files if f in prior_stats},
        **_collect_file_stats(path, new),
    }
    manifest = {
        "version": version,
        "files": files,
        "op": op,
        "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        # per-writer transaction watermarks (app_id -> highest committed
        # batch), carried forward cumulatively — the Delta-paper "txn"
        # action that makes streaming re-delivery idempotent
        "txn": dict(txn or {}),
        "file_stats": file_stats,
    }
    # bloom indexes (opt-in per table): built for NEW files only, carried
    # forward for retained ones, exactly like file_stats
    bloom_cfg = _bloom_config(path)
    if bloom_cfg:
        prior_blooms = base.get("file_blooms", {})
        new_bloom = [f for f in files if f not in prior_blooms]
        manifest["file_blooms"] = {
            **{f: prior_blooms[f] for f in files if f in prior_blooms},
            **_collect_file_blooms(path, new_bloom, bloom_cfg),
        }
        manifest["bloom_cfg"] = bloom_cfg
    os.makedirs(_manifest_dir(path), exist_ok=True)
    final = _manifest_path(path, version)
    tmp = f"{final}.{uuid.uuid4().hex[:8]}.tmp"
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
    try:
        os.link(tmp, final)  # exclusive create of the whole manifest
    except FileExistsError as exc:
        raise CommitConflict(f"version {version} already committed") from exc
    finally:
        os.remove(tmp)
    tmp = _current_path(path) + f".{uuid.uuid4().hex[:8]}.tmp"
    with open(tmp, "w") as fh:
        fh.write(str(version))
    os.replace(tmp, _current_path(path))
    return version


def _head_txn(path: str, base: int) -> dict[str, int]:
    if not base:
        return {}
    return _read_manifest(path, base).get("txn", {})


def _gate(
    txn: dict[str, int], app_id: str | None, batch_id: int | None
) -> dict[str, int] | None:
    """The exactly-once gate, checked on the head a commit builds on:
    ``txn`` advanced to (``app_id``, ``batch_id``), or None when that head
    already holds the batch (a replay).  Without an app id, ``txn`` as is."""
    if app_id is None:
        return txn
    if app_id in txn and batch_id <= txn[app_id]:
        return None
    return {**txn, app_id: batch_id}


def commit_replace(
    path: str,
    build: Callable[[int], DataFrame],
    op: str,
    txn: tuple[str, int] | None = None,
    n_files: int | None = None,
) -> int | None:
    """Read-modify-write commit: ``build(base)`` returns the table's new
    contents computed from version ``base`` (0: no table yet), and they
    replace the file list as version ``base + 1``.

    On :class:`CommitConflict` the written files are deleted and ``build``
    re-runs on the new head — the optimistic retry that lets concurrent
    writers of one table all land.  ``txn=(app_id, batch_id)`` passes the
    commit through the same watermark gate as :func:`idempotent_append`;
    a batch the head already holds returns None without writing.
    Returns the committed version otherwise.
    """
    app_id, batch_id = txn if txn is not None else (None, None)
    os.makedirs(path, exist_ok=True)
    while True:
        base = current_version(path)
        new_txn = _gate(_head_txn(path, base), app_id, batch_id)
        if new_txn is None:
            return None
        files = _write_data_files(build(base), path, n_files)
        try:
            return _commit(path, base, files, op, new_txn)
        except CommitConflict:
            _discard(path, files)


def _append_files(
    path: str,
    files: list[str],
    op: str,
    app_id: str | None = None,
    batch_id: int | None = None,
) -> int | None:
    """Commit ``files`` on top of the head.  An append does not depend on
    the rows it lands on, so a lost race rebases onto the new head —
    re-checking the watermark there — instead of rewriting data."""
    while True:
        base = current_version(path)
        head = _read_manifest(path, base) if base else {}
        txn = _gate(head.get("txn", {}), app_id, batch_id)
        if txn is None:  # a concurrent delivery of this batch landed first
            _discard(path, files)
            return None
        try:
            return _commit(path, base, head.get("files", []) + files, op, txn)
        except CommitConflict:
            continue


def create_or_replace(df: DataFrame, path: str, n_files: int | None = None) -> int:
    """Commit ``df`` as a full snapshot (version 1 for a new table).
    Returns the committed version."""
    return commit_replace(path, lambda _base: df, "create_or_replace", n_files=n_files)


def append(df: DataFrame, path: str, n_files: int | None = None) -> int:
    """Commit ``df``'s rows on top of the current snapshot (new manifest =
    head file list + new files; no data file is rewritten)."""
    os.makedirs(path, exist_ok=True)
    return _append_files(path, _write_data_files(df, path, n_files), "append")


def idempotent_append(
    df: DataFrame, path: str, app_id: str, batch_id: int, n_files: int | None = None
) -> int | None:
    """Exactly-once append for streaming: commit ``df`` tagged with
    (``app_id``, ``batch_id``); a re-delivered batch (same or lower id for
    this app) is a NO-OP, returning None.

    This is the table-side half of exactly-once — the checkpoint replays
    a batch after a crash, and the transaction watermark in the manifest
    deduplicates the replay (Delta paper §3.2 "txn" action).  The gate is
    checked before the data write (a replay writes nothing) and again on
    the head the commit lands on, so a concurrent delivery of the same
    batch commits once.
    """
    if _gate(_head_txn(path, current_version(path)), app_id, batch_id) is None:
        return None
    os.makedirs(path, exist_ok=True)
    files = _write_data_files(df, path, n_files)
    return _append_files(path, files, f"stream_append[{batch_id}]", app_id, batch_id)


def stream_sink(path: str, app_id: str, n_files: int | None = None):
    """``foreachBatch`` adapter: ``writeStream.foreachBatch(stream_sink(
    table, app_id))`` gives exactly-once versioned-table appends — the
    checkpoint provides replay, :func:`idempotent_append` provides
    dedup, the manifest publish makes the commit atomic."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        idempotent_append(batch_df, path, app_id, int(batch_id), n_files)

    return write


def read_snapshot(
    spark,
    path: str,
    version: int | None = None,
    prune: list[tuple[str, str, object]] | None = None,
) -> DataFrame:
    """Read a committed snapshot (the current one, or a pinned ``version``
    for time travel).  The file list is explicit — no directory listing.

    ``prune`` is a list of simple predicates ``(col, op, value)`` with
    ``op`` in {=, <, <=, >, >=}. Files whose manifest min/max stats prove
    no row can match are dropped during PLANNING — the Delta/Iceberg
    data-skipping read path: at 100 TB, skipping happens before a single
    parquet footer is opened, from the manifest alone.  ``=`` predicates
    additionally consult the per-file bloom indexes when the table opted
    in (:func:`set_bloom_columns`) — the point-lookup path for
    high-cardinality keys whose ranges overlap across every file.  The
    predicates are ALSO applied as row filters on the surviving files, so
    the result is exactly the filtered table whether or not any file was
    prunable (stats-less files — old manifests, exotic types — just
    don't prune).
    """
    v = version if version is not None else current_version(path)
    if v == 0:
        raise FileNotFoundError(f"no committed version at {path}")
    m = _read_manifest(path, v)
    files = m["files"]
    if prune:
        stats = m.get("file_stats", {})
        blooms, bcfg = m.get("file_blooms", {}), m.get("bloom_cfg")
        files = [
            f
            for f in files
            if all(
                _file_survives(stats.get(f), col, op, val)
                and (
                    op != "="
                    or _bloom_may_contain(
                        blooms.get(f, {}).get(col), bcfg, val
                    )
                )
                for col, op, val in prune
            )
        ]
        if not files:  # every file pruned: empty result, correct schema
            full = spark.read.parquet(
                *[os.path.join(path, f) for f in m["files"]]
            )
            return full.filter(F.lit(False))
    df = spark.read.parquet(*[os.path.join(path, f) for f in files])
    ops = {
        "=": lambda c, x: F.col(c) == x,
        "<": lambda c, x: F.col(c) < x,
        "<=": lambda c, x: F.col(c) <= x,
        ">": lambda c, x: F.col(c) > x,
        ">=": lambda c, x: F.col(c) >= x,
    }
    for col, op, val in prune or []:
        df = df.filter(ops[op](col, val))
    return df


def history(path: str) -> list[dict]:
    """All committed versions, oldest first (op + file count + timestamp)."""
    out = []
    for v in range(1, current_version(path) + 1):
        if os.path.exists(_manifest_path(path, v)):
            m = _read_manifest(path, v)
            out.append(
                {
                    "version": m["version"],
                    "op": m["op"],
                    "n_files": len(m["files"]),
                    "committed_at": m["committed_at"],
                }
            )
    return out


def compact(
    spark, path: str, target_file_bytes: int = 128 * 1024 * 1024
) -> int:
    """OPTIMIZE for the versioned table: rewrite the current snapshot into
    ~``target_file_bytes`` files and commit the replacement manifest.
    The table never goes absent — readers on the old version keep their
    (still present) files; the manifest publish is the only mutation.
    Returns the new version."""
    head = current_version(path)
    total = sum(
        os.path.getsize(os.path.join(path, f))
        for f in _read_manifest(path, head)["files"]
    )
    n_files = max(1, math.ceil(total / target_file_bytes))
    return commit_replace(
        path, lambda base: read_snapshot(spark, path, base), "compact", n_files=n_files
    )


def zorder_key_expr(col_a: str, col_b: str, bits: int = 20) -> "F.Column":
    """Z-order (Morton) interleave of two non-negative integer columns:
    bit i of ``col_a`` lands at position 2i, bit i of ``col_b`` at 2i+1.
    Built from plain shift/mask expressions — pure JVM codegen, no UDF.

    ``bits`` per column (default 20 -> 40-bit key) must cover the
    columns' value range; values are masked to ``bits`` so overflow
    degrades locality, never correctness.
    """
    terms = []
    for i in range(bits):
        terms.append(f"(((({col_a}) >> {i}) & 1) << {2 * i})")
        terms.append(f"(((({col_b}) >> {i}) & 1) << {2 * i + 1})")
    return F.expr(" | ".join(terms))


def optimize_zorder(
    spark, path: str, col_a: str, col_b: str, bits: int = 16, n_files: int = 8
) -> int:
    """OPTIMIZE ZORDER BY (col_a, col_b): rewrite the current snapshot
    clustered on the Morton interleave of the two columns and commit it
    as a new version — same manifest publish as :func:`compact`, so
    readers never block and time travel still reaches the un-clustered
    history.

    Both columns are NORMALIZED to the full ``bits`` range first
    (min/max-stretched): interleaving raw values degrades to a one-column
    sort whenever the ranges are unequal, because the wider column owns
    every high bit.  After the rewrite, a range predicate on EITHER column
    skips files and row groups via stats (asserted in test_versioned).
    The 4-number min/max stats are collected driver-side — planning
    metadata, not data — and the sort is expression-based so the table
    schema is unchanged (no persisted key column).
    """

    def build(base: int) -> DataFrame:
        df = read_snapshot(spark, path, base)
        mna, mxa, mnb, mxb = df.agg(
            F.min(col_a), F.max(col_a), F.min(col_b), F.max(col_b)
        ).first()
        top = (1 << bits) - 1
        na = f"cast((({col_a}) - {mna}) * {top} div greatest({mxa - mna}, 1) as bigint)"
        nb = f"cast((({col_b}) - {mnb}) * {top} div greatest({mxb - mnb}, 1) as bigint)"
        zkey = zorder_key_expr(f"({na})", f"({nb})", bits)
        return df.repartitionByRange(n_files, zkey).sortWithinPartitions(zkey)

    return commit_replace(path, build, "optimize_zorder")


def upsert(
    spark,
    updates: DataFrame,
    path: str,
    key_cols: list[str],
    order_col: str | None = None,
    n_files: int | None = None,
) -> int:
    """MERGE (SCD1) against the current snapshot: updates win per key
    (ties broken by ``order_col`` desc when given), result committed as a
    full replacement manifest.  One window shuffle: union the snapshot
    with the updates (updates ranked first via a source tag), keep
    row_number()==1 per key.  Re-applying the same updates is idempotent."""
    from pyspark.sql import Window

    order = [F.col("_src").desc()]
    if order_col:
        order.insert(0, F.col(order_col).desc())
    w = Window.partitionBy(*key_cols).orderBy(*order)

    def build(base: int) -> DataFrame:
        merged = updates.withColumn("_src", F.lit(1))
        if base:
            current = read_snapshot(spark, path, base).withColumn("_src", F.lit(0))
            merged = merged.unionByName(current)
        return (
            merged.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "_src")
        )

    return commit_replace(path, build, "upsert", n_files=n_files)


def scd2_upsert(
    spark,
    updates: DataFrame,
    path: str,
    key_cols: list[str],
    effective_col: str,
) -> int:
    """SCD2 (history-keeping) upsert: instead of overwriting a key's row
    (SCD1, :func:`upsert`), the previous version is CLOSED (``_valid_to``
    set to the update's effective time) and the new version appended OPEN
    (``_valid_to`` NULL) — every past state stays queryable with an as-of
    predicate (``_valid_from <= t AND (_valid_to IS NULL OR _valid_to > t)``).

    ``updates`` must hold one row per key (latest wins upstream) and carry
    ``effective_col``; attribute change is detected on every non-key,
    non-effective column (NULLs compared via a sentinel). Unchanged keys
    keep their open row — re-delivering the same batch leaves the rows
    as they were.

    Plan: one key-equi join of the open slice against the update batch
    (update side broadcast), closed history passes through untouched;
    the result replaces the snapshot in one commit.
    """
    attr_cols = [
        c for c in updates.columns if c not in (*key_cols, effective_col)
    ]

    def with_hash(df: DataFrame) -> DataFrame:
        marked = [
            F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in attr_cols
        ]
        return df.withColumn("_ah", F.sha2(F.concat_ws("\x1f", *marked), 256))

    fresh = with_hash(updates).withColumn(
        "_valid_from", F.col(effective_col)
    ).withColumn("_valid_to", F.lit(None).cast(updates.schema[effective_col].dataType))

    def build(base: int) -> DataFrame:
        if not base:
            return fresh.drop("_ah")
        current = with_hash(read_snapshot(spark, path, base))
        closed = current.filter(F.col("_valid_to").isNotNull()).drop("_ah")
        open_ = current.filter(F.col("_valid_to").isNull())

        upd_key = fresh.select(
            *[F.col(k).alias(f"_u_{k}") for k in key_cols],
            F.col("_ah").alias("_u_ah"),
            F.col("_valid_from").alias("_u_from"),
        )
        cond = [F.col(k) == F.col(f"_u_{k}") for k in key_cols]
        joined = open_.join(F.broadcast(upd_key), cond, "left")

        # open rows: unmatched or same attributes stay open; changed close
        still_open = joined.filter(
            F.col("_u_ah").isNull() | (F.col("_ah") == F.col("_u_ah"))
        ).select(*open_.columns).drop("_ah")
        newly_closed = joined.filter(
            F.col("_u_ah").isNotNull() & (F.col("_ah") != F.col("_u_ah"))
        ).withColumn("_valid_to", F.col("_u_from")).select(*open_.columns).drop("_ah")

        # incoming rows: new key, or key whose open row had different attrs
        open_key = open_.select(
            *[F.col(k).alias(f"_o_{k}") for k in key_cols],
            F.col("_ah").alias("_o_ah"),
        )
        cond2 = [F.col(k) == F.col(f"_o_{k}") for k in key_cols]
        incoming = (
            fresh.join(F.broadcast(open_key), cond2, "left")
            .filter(F.col("_o_ah").isNull() | (F.col("_ah") != F.col("_o_ah")))
            .select(*fresh.columns)
            .drop("_ah")
        )
        return closed.unionByName(still_open).unionByName(newly_closed).unionByName(
            incoming
        )

    return commit_replace(path, build, "scd2_upsert")


def table_diff(
    spark,
    path: str,
    from_version: int,
    to_version: int,
    key_cols: list[str],
    include_old: bool = False,
) -> DataFrame:
    """CDC between two snapshots: one row per changed key with
    ``_change`` in {insert, delete, update} plus the to-version's row
    values (nulls for deletes) — the change-data-feed a downstream
    incremental consumer reads instead of re-scanning the table. With
    ``include_old`` the from-version's values come along as ``<col>_old``
    (the before-image deletes/updates need for incremental aggregate
    maintenance).

    Implementation: full outer join of the two snapshots on the key,
    change class from null-side tests, update detection by comparing the
    non-key columns as a struct (null-safe: struct equality treats NULL
    = NULL as equal, so a column flipping to/from NULL is a real
    update). One shuffle on the key; nothing wider than the two
    snapshots' changed rows survives the filter.
    """
    from_df = read_snapshot(spark, path, from_version)
    to_df = read_snapshot(spark, path, to_version)
    val_cols = [c for c in to_df.columns if c not in key_cols]

    a = from_df.select(
        *key_cols, F.struct(*val_cols).alias("_old")
    )
    b = to_df.select(*key_cols, F.struct(*val_cols).alias("_new"))
    j = a.join(b, key_cols, "full_outer")
    change = (
        F.when(F.col("_old").isNull(), F.lit("insert"))
        .when(F.col("_new").isNull(), F.lit("delete"))
        .when(~F.col("_old").eqNullSafe(F.col("_new")), F.lit("update"))
    )
    out_cols = [F.col(f"_new.{c}").alias(c) for c in val_cols]
    if include_old:
        out_cols += [F.col(f"_old.{c}").alias(f"{c}_old") for c in val_cols]
    return (
        j.withColumn("_change", change)
        .filter(F.col("_change").isNotNull())
        .select(*key_cols, "_change", *out_cols)
    )


def vacuum(path: str, keep_last: int = 1) -> int:
    """Delete the data files of expired versions (older than the newest
    ``keep_last``) that no kept version lists, plus the expired manifests.
    Returns the number of data files removed.

    Only files an expired manifest lists are candidates, so files a
    concurrent writer has written but not yet committed are never touched
    (nor are the unlisted files of crashed commits).  Time travel reaches
    only kept versions afterwards."""
    head = current_version(path)
    keep_from = max(1, head - keep_last + 1)
    expired = [v for v in _manifest_versions(path) if v < keep_from]
    keep: set[str] = set()
    for v in range(keep_from, head + 1):
        keep.update(_read_manifest(path, v)["files"])
    doomed: set[str] = set()
    for v in expired:
        doomed.update(_read_manifest(path, v)["files"])
    removed = 0
    for rel in doomed - keep:
        try:
            os.remove(os.path.join(path, rel))
            removed += 1
        except FileNotFoundError:  # an interrupted earlier vacuum got it
            pass
    for d in {os.path.dirname(rel) for rel in doomed - keep}:
        cdir = os.path.join(path, d)
        if os.path.isdir(cdir) and not any(
            f.endswith(".parquet") for f in os.listdir(cdir)
        ):
            shutil.rmtree(cdir)
    for v in expired:
        os.remove(_manifest_path(path, v))
    return removed
