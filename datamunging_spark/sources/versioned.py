"""Versioned parquet table store: immutable ``v{N}`` directories with
commit markers, plus the roll-forward that applies a CDC changelog to
produce the next version — a mini-lakehouse on plain parquet, no table
format required (any engine can read a version directory).

Why versioned paths instead of overwrite-in-place: a rolled-forward
version's plan READS the previous version, and Spark cannot overwrite a
path its own plan is scanning (self-overwrite deletes input files
mid-scan). Immutable versions also give replay/audit and point-in-time
reads for free. Why commit markers: ``write.parquet`` is not atomic at
the directory level on object stores; a reader listing versions must
skip torn writes. Retire old versions out-of-band.

The marker machinery here is shared with the streaming snapshot loop
(datamunging_spark.streaming imports these helpers), so batch tables and
streaming snapshots carry the same durability contract.

Versioned delta-log store
-------------------------
:class:`DeltaLog` keeps an index-shaped state as a sequence of committed
versions of which most hold only one batch's increment — Lucene's
segment model on plain parquet, and the session-state reuse of
incremental top-k search: a fold writes O(batch), not O(state). The
streaming span state, lexical postings and IVF lists all live on it.

- **Layout.** Each version is either a full **base** or a **delta**
  plus its **replaced keys** (the key columns of the state rows the
  delta supersedes; an append-only log has none). The base and delta
  directories are named per family, so the stores already on disk keep
  their layouts: the postings/IVF base is the version directory itself
  with ``postings_delta``/``replaced_ids`` beside it, the span state is
  ``span_fps[_delta]``/``span_texts[_delta]`` under zero-padded
  ``v{N:020d}`` directories.
- **Cadence.** ``cadence = min`` of the non-None ``keep_last`` and
  ``base_every`` (:func:`base_cadence`). A fold writes a base when the
  head chain (its base plus the deltas after it) is empty or when one
  more delta would make it longer than ``cadence`` versions, so vacuum
  to ``keep_last`` always keeps the head's base. When both are None
  the log is a pure delta log: a keyed log then writes one base first
  (its replay needs one), an append-only log none at all.
- **Torn attempts.** A write first deletes whatever an earlier crashed
  attempt left of the OTHER mode in the same version directory, so a
  replay never mistakes a gutted base (or delta) for real state.
  Base-vs-delta follows from the committed chain alone, so a replayed
  batch converges on the same mode.
- **Replay.** A read takes the newest base at or before the version and
  folds each later delta in order: anti-join its replaced keys,
  NULL-safe per key column, then union the delta
  (:func:`apply_delta`). With no replaced keys the fold is a union. A
  keyed chain whose base was vacuumed raises rather than return a
  partial state.
- **Commit and retention.** A write ends with the commit marker and, when
  ``keep_last`` is set, vacuums to it — the durability rules above.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

COMMIT_MARKER = "_SNAPSHOTS_COMMITTED"

# Root-level manifest of applied CDC batch ids. Version directories carry
# their own _CDC_BATCH_{id} tag, but vacuum deletes retired versions WITH
# their tags — without a root manifest, a stream checkpoint replaying a
# batch older than the retention window would be re-applied as a new
# version (convergent only because apply_changelog is idempotent, and a
# spurious extra version either way). vacuum_table_versions copies tags
# into this directory before deleting, so batch_already_applied keeps
# detecting replays across the full table lifetime.
BATCHES_DIR = "_CDC_BATCHES"


def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jvm


def version_committed(spark: SparkSession, vpath: str) -> bool:
    """True when ``vpath`` carries the commit marker."""
    fs, jvm = _fs(spark, vpath)
    return fs.exists(jvm.org.apache.hadoop.fs.Path(f"{vpath}/{COMMIT_MARKER}"))


def mark_committed(spark: SparkSession, vpath: str) -> None:
    """Drop the commit marker into ``vpath`` (the LAST step of a write)."""
    fs, jvm = _fs(spark, vpath)
    fs.create(
        jvm.org.apache.hadoop.fs.Path(f"{vpath}/{COMMIT_MARKER}"), True
    ).close()


def list_table_versions(spark: SparkSession, path: str) -> list[int]:
    """All COMMITTED ``v{N}`` versions under ``path``, ascending. Torn
    (marker-less) directories are invisible — the durability contract."""
    fs, jvm = _fs(spark, path)
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    if not fs.exists(jpath):
        return []
    versions = []
    for status in fs.listStatus(jpath):
        name = status.getPath().getName()
        if name.startswith("v") and name[1:].isdigit():
            v = int(name[1:])
            if version_committed(spark, f"{path}/{name}"):
                versions.append(v)
    return sorted(versions)


def latest_table_version(spark: SparkSession, path: str) -> int | None:
    """Highest committed version number, or None for an empty store."""
    versions = list_table_versions(spark, path)
    return versions[-1] if versions else None


def write_table_version(
    df: DataFrame, path: str, version: int, batch_id: int | None = None
) -> None:
    """Materialize ``df`` as ``{path}/v{version}`` and commit it. The
    write is overwrite-idempotent: a retried batch rewrites the same
    version directory and re-marks it, so replays converge instead of
    duplicating. ``batch_id`` (streaming) tags the version with its
    producing micro-batch BEFORE the commit marker, so
    :func:`batch_already_applied` can detect replays."""
    vpath = f"{path}/v{version}"
    df.write.mode("overwrite").parquet(vpath)
    if batch_id is not None:
        mark_batch_applied(df.sparkSession, vpath, batch_id)
    mark_committed(df.sparkSession, vpath)


def read_table_version(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Read one committed version (default: latest) — the point-in-time
    read face of the store."""
    if version is None:
        version = latest_table_version(spark, path)
        if version is None:
            raise FileNotFoundError(f"no committed versions under {path}")
    vpath = f"{path}/v{version}"
    if not version_committed(spark, vpath):
        raise FileNotFoundError(f"version v{version} not committed at {path}")
    return spark.read.parquet(vpath)


def roll_table_version(
    spark: SparkSession,
    path: str,
    changes: DataFrame,
    keys: list[str],
    version_col: str,
    op_col: str | None = None,
    version: int | None = None,
    batch_id: int | None = None,
) -> int:
    """Apply a CDC changelog to the latest committed version and commit
    the result as the next version; returns the new version number. For
    an empty store, the changelog's upserts seed ``v1``. Pass ``version``
    to pin the target explicitly (streaming replays re-target their OWN
    version); it must be latest+1 (or 1 on an empty store) — the store
    never skips numbers.

    One read of the previous version + operators/history.apply_changelog
    (changelog-only window, one merge join) + one write. The write is a
    different directory than the read, so the plan never scans what it is
    overwriting; a crash before the marker leaves a torn, invisible
    directory that the retry rewrites.
    """
    from datamunging_spark.operators.history import apply_changelog

    latest = latest_table_version(spark, path)
    new_version = (latest or 0) + 1 if version is None else version
    if new_version != (latest or 0) + 1:
        raise ValueError(
            f"version must be contiguous: latest committed is {latest}, "
            f"got target {new_version}"
        )
    if latest is None:
        payload = [
            c
            for c in changes.columns
            if c not in {version_col} | ({op_col} if op_col else set())
        ]
        base = changes.select(*payload).limit(0)
    else:
        base = read_table_version(spark, path, latest)
    rolled = apply_changelog(
        base, changes, keys, version_col, op_col=op_col
    )
    write_table_version(rolled, path, new_version, batch_id=batch_id)
    return new_version


def check_keep_last(keep_last: int | None) -> None:
    """Retention keeps the head: ``keep_last`` is None (no vacuum) or at
    least 1. Streaming faces call this before their query starts, so a
    bad value fails before any version is written."""
    if keep_last is not None and keep_last < 1:
        raise ValueError(
            f"keep_last must be >= 1 (never vacuum the head), got {keep_last}"
        )


def vacuum_table_versions(
    spark: SparkSession,
    path: str,
    keep_last: int = 2,
    drop_torn: bool = False,
) -> list[int]:
    """Retire old committed versions, keeping the newest ``keep_last``.
    Returns the version numbers deleted. The store lifecycle's
    out-of-band cleanup; point-in-time reads older than the retention
    window become FileNotFoundError afterwards, so pick ``keep_last`` to
    cover the audit horizon.

    ``drop_torn=False`` (default) leaves marker-less directories alone:
    a torn directory is indistinguishable from a version a CONCURRENT
    writer is materializing right now, and deleting it under the writer
    would let the writer's trailing mark_committed stamp a commit marker
    onto a gutted directory. Pass ``drop_torn=True`` only when no writer
    can be active (same single-writer window as any destructive
    maintenance)."""
    check_keep_last(keep_last)
    fs, jvm = _fs(spark, path)
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    if not fs.exists(jpath):
        return []
    committed = list_table_versions(spark, path)
    keep = set(committed[-keep_last:])
    deleted = []
    for status in fs.listStatus(jpath):
        name = status.getPath().getName()
        if not (name.startswith("v") and name[1:].isdigit()):
            continue
        v = int(name[1:])
        if v in keep:
            continue
        is_committed = v in set(committed)
        if not is_committed and not drop_torn:
            continue
        if is_committed:
            # Preserve the version's CDC batch tags in the root manifest
            # BEFORE deleting, so replay detection survives retention.
            for fstat in fs.listStatus(status.getPath()):
                fname = fstat.getPath().getName()
                if fname.startswith("_CDC_BATCH_"):
                    bid = fname[len("_CDC_BATCH_"):]
                    fs.mkdirs(
                        jvm.org.apache.hadoop.fs.Path(
                            f"{path}/{BATCHES_DIR}"
                        )
                    )
                    fs.create(
                        jvm.org.apache.hadoop.fs.Path(
                            f"{path}/{BATCHES_DIR}/{bid}"
                        ),
                        True,
                    ).close()
        fs.delete(status.getPath(), True)
        if is_committed:
            deleted.append(v)
    return sorted(deleted)


def mark_batch_applied(
    spark: SparkSession, vpath: str, batch_id: int
) -> None:
    """Record which streaming batch produced ``vpath`` (written BEFORE
    the commit marker, so any committed version carries its batch tag)."""
    fs, jvm = _fs(spark, vpath)
    fs.create(
        jvm.org.apache.hadoop.fs.Path(f"{vpath}/_CDC_BATCH_{batch_id}"),
        True,
    ).close()


def batch_already_applied(
    spark: SparkSession, path: str, batch_id: int
) -> bool:
    """True when some COMMITTED version carries ``batch_id``'s tag — the
    streaming replay test (a crash between the version commit and the
    stream checkpoint replays the batch; the tag makes the replay a
    no-op instead of a double-apply). Also consults the root
    ``_CDC_BATCHES`` manifest, where vacuum preserves the tags of retired
    versions — so detection works even for batches older than the
    retention window. Scan cost is the committed-version count (bounded
    by vacuum retention) plus one manifest existence probe."""
    fs, jvm = _fs(spark, path)
    if fs.exists(
        jvm.org.apache.hadoop.fs.Path(f"{path}/{BATCHES_DIR}/{batch_id}")
    ):
        return True
    for v in list_table_versions(spark, path):
        if fs.exists(
            jvm.org.apache.hadoop.fs.Path(
                f"{path}/v{v}/_CDC_BATCH_{batch_id}"
            )
        ):
            return True
    return False


def base_cadence(
    keep_last: int | None, base_every: int | None, name: str = "base_every"
) -> int | None:
    """The delta-log store's one cadence rule: the chain bound is the
    smaller of the retention window and ``base_every`` (None when both
    are None — a pure delta log). ``name`` is the caller's option name
    for the error message."""
    if base_every is not None and base_every < 1:
        raise ValueError(f"{name} must be >= 1 or None, got {base_every}")
    return min(
        (c for c in (keep_last, base_every) if c is not None), default=None
    )


def apply_delta(state, delta, replaced: DataFrame | None = None):
    """Fold one delta into a state — the store's replay step. ``state``
    and ``delta`` are equal-length tuples of frames (one per part);
    ``state=None`` is the empty state. Rows of each state part whose key
    columns (``replaced``'s columns) match a replaced key are dropped,
    NULL-safe per key column (NULL is a real group), then the delta part
    is unioned by name. ``replaced=None`` is an append-only union."""
    if state is None:
        return tuple(delta)
    out = []
    for part, d in zip(state, delta):
        if replaced is not None:
            keys = replaced.columns
            r = replaced.select(*[F.col(k).alias(f"_r_{k}") for k in keys])
            cond = reduce(
                lambda a, b: a & b,
                [F.col(k).eqNullSafe(F.col(f"_r_{k}")) for k in keys],
            )
            part = part.join(F.broadcast(r), cond, "left_anti").select(
                *part.columns
            )
        out.append(part.unionByName(d))
    return tuple(out)


@dataclass(frozen=True)
class DeltaLog:
    """A versioned delta-log store at ``path`` (see "Versioned delta-log
    store" above). ``base``/``delta`` name each part's directory inside a
    version directory for the two modes, in the same part order (``""``
    is the version directory itself); ``replaced`` names the delta's
    replaced-keys table, None for an append-only log. ``width``
    zero-pads the version number in directory names. ``cadence`` comes
    from :func:`base_cadence`; ``keep_last`` is the vacuum retention
    applied after each write (None: never vacuum). The defaults are the
    postings/IVF layout."""

    path: str
    keep_last: int | None = None
    cadence: int | None = None
    base: tuple = ("",)
    delta: tuple = ("postings_delta",)
    replaced: str | None = "replaced_ids"
    width: int = 1

    def vdir(self, version: int) -> str:
        return f"{self.path}/v{version:0{self.width}d}"

    def _at(self, version: int, name: str) -> str:
        return f"{self.vdir(version)}/{name}" if name else self.vdir(version)

    def kind(self, spark: SparkSession, version: int) -> str | None:
        """``"base"``, ``"delta"``, or None for a committed version that
        carries no state of this log (a span-free snapshot version)."""
        fs, jvm = _fs(spark, self.path)
        exists = lambda n: fs.exists(  # noqa: E731
            jvm.org.apache.hadoop.fs.Path(self._at(version, n))
        )
        if exists(self.delta[0]):
            return "delta"
        if not self.base[0] or exists(self.base[0]):
            return "base"
        return None

    def read(self, spark: SparkSession, version: int | None = None):
        """Replay the state as of committed ``version`` (default: the
        latest). Returns ``(parts, chain)``: the tuple of part frames
        (None when no version up to it carries this log's state) and the
        head chain's length, which the next :meth:`write` takes. Only
        the chain's versions are probed, newest first."""
        versions = list_table_versions(spark, self.path)
        if version is None:
            if not versions:
                raise FileNotFoundError(
                    f"no committed versions under {self.path}"
                )
            version = versions[-1]
        if version not in versions:
            raise FileNotFoundError(
                f"version v{version} not committed at {self.path}"
            )
        chain = []
        for v in reversed([v for v in versions if v <= version]):
            kind = self.kind(spark, v)
            if kind is not None:
                chain.append((v, kind))
                if kind == "base":
                    break
        chain.reverse()
        if chain and chain[0][1] != "base" and self.replaced is not None:
            raise FileNotFoundError(
                f"no full base at or before v{version} under {self.path} "
                "— the base was vacuumed past the delta chain; raise "
                "keep_last (the base cadence is min(keep_last, base_every))"
            )
        parts = None
        for v, kind in chain:
            if kind == "base":
                parts = tuple(
                    spark.read.parquet(self._at(v, n)) for n in self.base
                )
                continue
            replaced = (
                spark.read.parquet(self._at(v, self.replaced))
                if self.replaced is not None
                else None
            )
            parts = apply_delta(
                parts,
                [spark.read.parquet(self._at(v, n)) for n in self.delta],
                replaced,
            )
        return parts, len(chain)

    def write(
        self,
        spark: SparkSession,
        version: int,
        chain: int,
        state,
        delta,
        replaced: DataFrame | None = None,
    ):
        """Commit one fold as ``version``: a base holding
        ``apply_delta(state, delta, replaced)`` or a delta holding
        ``delta`` and ``replaced``, by the cadence rule on the head
        ``chain`` length (from the last :meth:`read` or :meth:`write`).
        Torn leftovers of the other mode are deleted first; the parts
        are written concurrently, then committed, then vacuumed to
        ``keep_last``. Returns ``(parts, chain)`` for the next fold:
        after a base, flat reads of it (the plan depth resets, and no
        job runs); after a delta, the lazy fold."""
        from datamunging_spark.parallel import co_materialize

        # a keyed replay needs a base under its first delta, so only an
        # append-only log without a cadence starts on a delta
        as_base = (
            chain == 0 and (self.cadence is not None or self.replaced is not None)
        ) or (self.cadence is not None and chain >= self.cadence)
        full = apply_delta(state, delta, replaced)
        if as_base:
            stale = self.delta + ((self.replaced,) if self.replaced else ())
            outs = list(zip(full, self.base))
        else:
            stale = self.base
            outs = list(zip(delta, self.delta))
            if self.replaced is not None:
                outs.append((replaced, self.replaced))
        fs, jvm = _fs(spark, self.path)
        for n in stale:
            p = jvm.org.apache.hadoop.fs.Path(self._at(version, n))
            if fs.exists(p):
                fs.delete(p, True)
        co_materialize(
            *[
                lambda df=df, n=n: df.write.mode("overwrite").parquet(
                    self._at(version, n)
                )
                for df, n in outs
            ]
        )
        mark_committed(spark, self.vdir(version))
        if self.keep_last is not None:
            vacuum_table_versions(spark, self.path, self.keep_last)
        if as_base:
            # the known schema skips parquet's footer-reading job
            return tuple(
                spark.read.schema(f.schema).parquet(self._at(version, n))
                for f, n in zip(full, self.base)
            ), 1
        return full, chain + 1
