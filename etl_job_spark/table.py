"""Manifest-committed parquet table — safe writes under concurrent readers.

The reference commits by mutating MySQL rows in place
(/root/reference/load_sales_data.py:129-134); the round-1 Spark port
committed parquet directories by renaming them, which (a) has a crash
window where the table briefly doesn't exist, (b) breaks readers that
resolved the directory mid-swap, and (c) relies on ``os.rename`` of a
*directory*, which object stores don't have. This module is the
at-scale answer, the same idea as Delta/Iceberg reduced to its core:

- **data files are immutable** — every write lands new parquet files
  under ``data/<uuid>/``; nothing ever rewrites or deletes a live file;
- **a snapshot is a manifest** — ``_manifests/v%012d.json`` lists the
  exact data files (and their partition values) that make up one
  version of the table;
- **commit = publish one manifest file atomically** — written to a
  temp name, then ``os.link``-ed to its final name. ``link`` fails if
  the target exists, so two racing writers can't both claim a version
  (optimistic concurrency); on an object store the same protocol is a
  put-if-absent. A reader either sees a manifest completely or not at
  all — there is no window where the table is missing or half-written;
- **readers pin a version** — ``snapshot()`` resolves the latest
  manifest once; the DataFrame keeps reading those files even while
  later versions commit (files are only removed by ``vacuum``, which
  keeps every file any retained manifest references);
- **MERGE is metadata-only for untouched files** — the new manifest
  re-references old files whose recorded partition values the source
  can't touch; within what survives partition pruning (and on
  unpartitioned tables), per-file key min/max recorded from parquet
  footers at write time skips files whose key range is provably
  disjoint from the source's (data skipping, Delta's
  dataSkippingNumIndexedCols shape). Only possibly-matching files are
  read and rewritten.
- **commit conflicts retry** — a writer that loses the version race
  re-reads the latest snapshot, re-prunes, and re-commits (bounded
  optimistic retries, the Delta-style loop); ``CommitConflictError``
  escapes only after the budget is exhausted.

Row-level DELETE comes in both production shapes (``delete_where``):
copy-on-write (default) — one predicate-pushdown scan finds which
files actually hold matching rows (parquet row-group stats skip cold
files for free) and only those files are rewritten, every other file
carried by reference — and merge-on-read deletion vectors
(``mode="merge_on_read"``) — matching physical row positions are
recorded against each file (keyed by its FULL manifest-relative path,
partition dirs included), no data file is rewritten, and every reader
anti-joins them out. DV positions never visit the driver: small
per-file sets inline into the manifest, big ones spill to parquet
sidecars under ``_dv/`` written by the executors, and a delete
matching more than ``mor_row_limit`` rows falls back to copy-on-write
automatically; the right shape for scattered GDPR-style erasure,
materialized away by the next rewrite of the file (MERGE touch or
compact). Commits between checkpoints store only their file-list
DELTA against the previous version (every ``_CHECKPOINT_INTERVAL``-th
version is a self-contained checkpoint), so a carried-by-reference
commit writes O(changed files) manifest bytes and opening any
snapshot reads a bounded number of manifests — Delta's
checkpoint/log shape. Tables written with ``bloom_cols`` additionally
record per-file BLOOM FILTERS for the named int/string columns
(sidecar JSONs under ``_bloom/``, built by the write tasks for big
commits): ``delete_keys`` and small-key-set MERGE probe them at
planning time and skip files the bloom proves cold — the prune that
works on hash-scattered keys, where every file's min/max spans the
whole domain and range stats can never skip anything (Iceberg's
puffin-blob shape; complementary to parquet's own row-group blooms,
which only help after the file is already open). Named CHECK
constraints (``alter_constraints``) persist in the manifest and gate
every subsequent write's incoming rows in one aggregation pass
(Delta's invariant checker shape); ``merge(txn=(app, version))``
keeps a per-app batch high-water mark so streaming replays land
exactly once. Schema evolution is add-column-only:
``append``/``merge`` may bring new columns, readers see NULL for rows
written before the column existed, and changing an existing column's
type is rejected. A full catalog service remains out of scope — that
is why production uses Delta/Iceberg; the commit protocol, pruned
MERGE/DELETE (both CoW and MoR), and additive evolution are the parts
the engine needs.
"""

from __future__ import annotations

import base64
import datetime
import decimal
import json
import os
import re
import urllib.parse
import uuid
from collections.abc import Callable, Mapping, Sequence

import pyarrow.parquet as pq

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from etl_job_spark.commit_store import (
    CommitStore,
    LocalFSCommitStore,
    StoreConflict,
    read_parquet_via,
    write_parquet_via,
)
from etl_job_spark.operators.merge import merge_clauses, merge_upsert

_MANIFEST_DIR = "_manifests"
_DATA_DIR = "data"
_DV_DIR = "_dv"

# per-file min/max stats are recorded for at most this many leading
# columns — the same bounded-stats contract as Delta's
# dataSkippingNumIndexedCols: manifests stay O(files), not O(files*cols)
_STATS_MAX_COLUMNS = 32

# deletion-vector positions live inline in the manifest only while a
# file's total stays at or under this; past it the positions spill to a
# parquet sidecar under _dv/ and the manifest holds a reference — the
# manifest stays O(files), never O(deleted rows)
_DV_INLINE_MAX = 1024

# a merge-on-read DELETE matching more rows than this auto-falls-back
# to copy-on-write: past that point rewriting the touched files is
# cheaper than making every future read anti-join a huge DV, and it
# bounds the DV sidecar a single commit can leave behind
_MOR_FALLBACK_ROWS = 10_000_000

# every Nth version writes a full (checkpoint) manifest; the versions
# between carry deltas against their base — resolving any snapshot
# reads at most this many manifest files (Delta's checkpoint shape)
_CHECKPOINT_INTERVAL = 10

#: manifest protocol versions THIS engine understands — the
#: Delta-protocol shape (minReaderVersion/minWriterVersion) reduced to
#: its core: every commit stamps the minimum reader/writer protocol its
#: features require, and an engine refuses (loudly, naming the
#: versions) rather than misreading a manifest whose features it
#: predates or clobbering table state it cannot fully interpret.
#: Manifests written before the stamp default to (1, 1).
_READER_PROTOCOL = 1
_WRITER_PROTOCOL = 1

# checkpoints listing at least this many files store the entry list as
# a PARQUET sidecar (files-<uuid>.parquet, one row per file) instead
# of inline JSON — Delta's parquet-checkpoint shape: at 10^6 files the
# JSON form is GBs of text the driver must parse per open, while the
# parquet form is a columnar metadata TABLE that read planning can
# scan as a Spark job (below)
_FILES_PARQUET_MIN = 512

# distributed read planning kicks in when the snapshot's file count
# reaches this: the per-entry prune (partition constants + transform
# dirs + footer stats) runs as ONE mapInPandas job over the checkpoint
# parquet, shipping back only the O(matching) survivors; below it the
# in-memory loop wins outright. Threshold set from measurement, not
# vibes (local[32], BASELINE.md "Planning tiers"): the driver loop
# matches ~0.3-3 M entries/s and sidecar materialization json-parses
# ~130 k entries/s, while the distributed job carries ~2 s of fixed
# scan/schedule cost — CPU crossover lands around 10^5 entries, and
# by there driver MEMORY (a 10^6-entry list is GBs of dicts) is the
# bigger reason to stay lazy. The bloom probe stays a driver pass
# over the survivors either way (sidecar reads keyed through the
# table instance).
_SPARK_PRUNE_MIN_FILES = 65_536

# commits landing at most this many files take footer stats on the
# driver (a few dozen ~8 KB reads — cheaper than scheduling a Spark
# job); bigger commits compute stats ON THE EXECUTORS so a 100k-file
# commit never becomes a driver-side metadata stampede
_DRIVER_STATS_MAX_FILES = 32
# bloom builds read the indexed COLUMN PAGES (stats read only footers)
# and BUILD bit arrays in pure Python (CPU-bound at ~MB/s, not IO) —
# the driver tier is additionally capped by total input bytes, set
# low: 32 MB of parquet is already seconds of single-threaded hashing
# (measured: 180 MB driver-serial 28 s vs ~2 s distributed at sf1.0)
_DRIVER_BLOOM_MAX_BYTES = 32 << 20

# per-file bloom filters (point-lookup data skipping on non-clustered
# keys — min/max ranges all overlap when keys are hash-scattered, so
# GDPR-style "delete these 3 ids" would otherwise open every file).
# Sized at ~10 bits/row (≈1% fpp) capped at 16 KiB of bits per column;
# blooms live in _bloom/ sidecar JSONs written by whoever computed
# them (executors, for big commits), never inline in the manifest.
_BLOOM_DIR = "_bloom"
_BLOOM_MIN_BITS = 1 << 10
_BLOOM_MAX_BITS = 1 << 17
_BLOOM_K = 7
# probe a file's blooms only for value sets at most this large — a
# bloom can't say anything useful about a million-key probe, and the
# per-value bit tests are driver-side work
_BLOOM_PROBE_MAX = 1024


class _CowFallback(Exception):
    """Internal: MoR delete matched too many rows; rerun as CoW."""


class CommitConflictError(RuntimeError):
    """Another writer claimed the version this commit targeted.

    Write operations retry this internally (optimistic concurrency);
    it escapes only after the retry budget is exhausted."""


#: functions with identical semantics in Spark SQL and DuckDB over the
#: types CHECK constraints see — the vetted subset task-side DuckDB
#: validation may evaluate (r10 ADVICE: the two engines must never
#: silently enforce DIFFERENT semantics for the same predicate text)
_CROSS_DIALECT_FUNCS = frozenset(
    {
        "abs", "coalesce", "length", "lower", "upper", "trim", "ltrim",
        "rtrim", "round", "floor", "ceil", "ceiling", "greatest", "least",
        "nullif",
    }
)
#: bare keywords/operator words of the vetted predicate grammar
_CROSS_DIALECT_WORDS = frozenset(
    {
        "and", "or", "not", "in", "is", "null", "between", "like", "true",
        "false", "case", "when", "then", "else", "end",
    }
)


def duckdb_dialect_safe(pred: str, columns: Sequence[str] | None = None) -> bool:
    """True when a CHECK predicate stays inside the vetted
    cross-dialect subset — comparison/arithmetic operators, AND/OR/NOT,
    IN, BETWEEN, LIKE, IS [NOT] NULL, CASE, single-quoted string and
    numeric literals, bare column names, and the ``_CROSS_DIALECT_FUNCS``
    allowlist — the grammar Spark SQL and DuckDB provably evaluate
    identically. Everything else (casts, ``::``, double-quoted text —
    a string in Spark, an IDENTIFIER in DuckDB — regexp/date/timezone
    functions, backticks) returns False: the caller must validate
    Spark-side instead of risking two engines enforcing different
    semantics for the same constraint text (r10 ADVICE, medium).

    ``columns`` (pass it whenever the schema is known): a bare word
    that is NOT a vetted keyword must then be one of these column
    names — otherwise it could be a dialect-divergent OPERATOR keyword
    masquerading as an identifier (``s rlike '…'``: Spark regexp
    operator, DuckDB parse error at best). Without ``columns`` the
    check is lenient on bare words; task-side validation still refuses
    anything DuckDB cannot parse, so unsafety degrades to a loud
    refusal, never silence."""
    import re

    # strip single-quoted literals ('' escapes) before token scanning
    stripped = re.sub(r"'(?:[^']|'')*'", "''", pred)
    if any(tok in stripped for tok in ("::", "`", '"', "[", "{", "||", "?")):
        return False
    cols = {c.casefold() for c in columns} if columns is not None else None
    for m in re.finditer(r"\b([A-Za-z_]\w*)(\s*\()?", stripped):
        word = m.group(1).lower()
        if word in _CROSS_DIALECT_WORDS:
            continue  # keywords may precede parens (IN (...), NOT (...))
        if m.group(2):
            if word not in _CROSS_DIALECT_FUNCS:
                return False  # a function call outside the allowlist
        elif cols is not None and word not in cols:
            return False  # not a column: possibly an operator keyword
    return True


class ConstraintViolationError(ValueError):
    """Incoming rows violate a table CHECK constraint; nothing was
    committed. Carries ``violations``: constraint name → row count."""

    def __init__(self, table_path: str, violations: dict[str, int]):
        self.violations = violations
        detail = ", ".join(f"{k} ({v} rows)" for k, v in sorted(violations.items()))
        super().__init__(
            f"write to {table_path} rejected by CHECK constraints: {detail}"
        )


def _manifest_name(version: int) -> str:
    return f"v{version:012d}.json"


def _hadoop_glob_escape(path: str) -> str:
    """Backslash-escape Hadoop glob metacharacters in a FILE PATH
    handed to ``spark.read.parquet`` — the reader glob-interprets every
    path, so an ADOPTED directory like ``batch[1]`` (CONVERT/clone
    bases are user paths, not engine-generated names) would read as a
    character class (PATH_NOT_FOUND at best, a different existing file
    at worst). Engine-written paths never contain these characters
    (uuid batch dirs; Spark percent-escapes them in partition dirs), so
    this is a no-op on the native layout."""
    return re.sub(r"([\[\]{}*?])", r"\\\1", path)


def _partition_values(rel_path: str) -> dict[str, str | None]:
    """Hive-style ``key=value`` path segments → *logical* partition values.

    Spark's writer percent-escapes special characters in path segments
    and renders NULL as ``__HIVE_DEFAULT_PARTITION__``; manifests store
    the decoded logical value (None for NULL) so MERGE's touched-
    partition pruning compares values, not path spellings.
    """
    out: dict[str, str | None] = {}
    for seg in rel_path.split("/")[:-1]:
        if "=" in seg:
            k, _, v = seg.partition("=")
            out[k] = None if v == "__HIVE_DEFAULT_PARTITION__" else urllib.parse.unquote(v)
    return out


def _stat_encode(value):
    """Footer/source statistic → JSON value that preserves ordering.

    Values comparable under their JSON encoding prune; anything whose
    order the JSON form can't represent (bytes) returns None and the
    column simply records no stats, which is always sound (the file
    stays "possibly touched"). Temporal values encode as unit-specific
    epoch integers; DECIMALS encode EXACTLY as ``{"dec": "<str>"}``
    (the float form could round a bound the wrong way — the one
    failure a planner must never have) and compare through
    ``decimal.Decimal`` on the probe side. The dict form is
    deliberately incomparable to every scalar encoding
    (``_comparable``), so decimal stats can never be confused with
    plain int64 key stats by an old or type-ignorant probe."""
    if isinstance(value, bool):  # bool is an int subclass; exclude it
        return None
    if isinstance(value, decimal.Decimal):
        return {"dec": str(value)} if value.is_finite() else None
    if isinstance(value, (int, float, str)):
        return value
    if isinstance(value, datetime.datetime):
        # epoch MICROSECONDS as int — never isoformat strings: footers
        # surface tz-AWARE datetimes (TIMESTAMP_MICROS adjusted-to-UTC)
        # while a collect() yields naive ones, and '...+00:00' vs '...'
        # compare wrong lexicographically even for equal instants.
        # Aware → exact instant; naive (NTZ footers) → wall clock
        # treated as UTC, matching the read side's UTC-pinned sessions.
        if value.tzinfo is not None:
            value = value.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        delta = value - datetime.datetime(1970, 1, 1)
        return (delta.days * 86_400_000_000
                + delta.seconds * 1_000_000
                + delta.microseconds)
    if isinstance(value, datetime.date):
        # epoch DAYS as int (source side mirrors with unix_date)
        return (value - datetime.date(1970, 1, 1)).days
    return None


def _file_stats(path: str) -> tuple[int, dict[str, dict]]:
    """Row count + per-column min/max AND null counts from the parquet
    footer — no data pages read. Min/max cover top-level primitive
    columns (first ``_STATS_MAX_COLUMNS``) whose every row group
    recorded min/max; a column with any stats-less row group is
    omitted (unknown range, never pruned). Null counts are tracked
    independently (an all-NULL or binary column has no min/max but a
    perfectly good null count — that's what lets ``not_null`` prune
    it), summed only when EVERY row group reports one. This is the
    write-time half of data skipping: the read-time half is
    ``ManifestTable._prune_by_key_stats``."""
    meta = pq.ParquetFile(path).metadata
    schema = meta.schema
    stats: dict[str, list] = {}
    nulls: dict[str, int] = {}
    eligible: list[int] = []
    for j in range(min(meta.num_columns, _STATS_MAX_COLUMNS)):
        if "." not in schema.column(j).path:  # top-level leaves only
            eligible.append(j)
    n_eligible = list(eligible)
    for g in range(meta.num_row_groups):
        rg = meta.row_group(g)
        for j in list(n_eligible):
            name = schema.column(j).path
            st = rg.column(j).statistics
            if st is None or not st.has_null_count:
                n_eligible.remove(j)
                nulls.pop(name, None)
            else:
                nulls[name] = nulls.get(name, 0) + st.null_count
        for j in list(eligible):
            name = schema.column(j).path
            st = rg.column(j).statistics
            if st is None or not st.has_min_max:
                eligible.remove(j)
                stats.pop(name, None)
                continue
            try:
                col = schema.column(j)
                if getattr(col.logical_type, "type", None) == "DECIMAL":
                    lo = _decimal_raw_stat(st.min_raw, col.scale)
                    hi = _decimal_raw_stat(st.max_raw, col.scale)
                else:
                    lo, hi = _stat_encode(st.min), _stat_encode(st.max)
            except Exception:
                # pyarrow can't extract stats for some physical types
                # (ArrowNotImplementedError, e.g. INT96); unknown range
                # = never pruned, which is always sound
                eligible.remove(j)
                stats.pop(name, None)
                continue
            if lo is None or hi is None:
                eligible.remove(j)
                stats.pop(name, None)
                continue
            cur = stats.get(name)
            if cur is None:
                stats[name] = [lo, hi]
            else:
                # order under _enc_order: decimal encodings (dicts)
                # are not orderable directly
                if _enc_order(lo) < _enc_order(cur[0]):
                    cur[0] = lo
                if _enc_order(hi) > _enc_order(cur[1]):
                    cur[1] = hi
    out: dict[str, dict] = {k: {"min": v[0], "max": v[1]} for k, v in stats.items()}
    for name, n in nulls.items():
        out.setdefault(name, {})["nulls"] = n
    return meta.num_rows, out


#: lossless type-widening lattice (Delta 4 / Iceberg v3 "type widening"):
#: every promotion here is value-preserving AND probe-sound for this
#: format's metadata — integer stats/blooms/partition-dir spellings are
#: width-independent (python ints, str(7) either way), float32 stats
#: extend exactly to double, decimal {dec: str} stats don't change with
#: precision. int→double / date→timestamp are NOT here: the former is
#: lossy past 2^53, the latter changes the stat encoding family.
_WIDEN_INTS = ["tinyint", "smallint", "int", "bigint"]


def _is_widening(old: str, new: str) -> bool:
    """True when ``old`` → ``new`` (simpleStrings) is a supported
    lossless widening: up the integer chain, float→double, or
    decimal(p,s)→decimal(p2,s) with p2>p (same scale)."""
    if old == new:
        return False
    if old in _WIDEN_INTS and new in _WIDEN_INTS:
        return _WIDEN_INTS.index(new) > _WIDEN_INTS.index(old)
    if old == "float" and new == "double":
        return True
    m_old = re.fullmatch(r"decimal\((\d+),(\d+)\)", old)
    m_new = re.fullmatch(r"decimal\((\d+),(\d+)\)", new)
    if m_old and m_new:
        return (
            m_old.group(2) == m_new.group(2)
            and int(m_new.group(1)) > int(m_old.group(1))
        )
    return False


def _stat_decode(enc, kind: str | None):
    """Inverse of ``_stat_encode`` for a column of committed type
    ``kind`` (simpleString): the user-facing Python value of a stored
    statistic. Temporal statistics are stored as unit-epoch integers
    (micros / days), decimals as exact ``{"dec": str}`` dicts;
    everything else is already its own value."""
    if enc is None:
        return None
    if isinstance(enc, dict):
        return decimal.Decimal(enc["dec"])
    if kind and kind.startswith("timestamp") and isinstance(enc, int):
        return datetime.datetime(1970, 1, 1) + datetime.timedelta(microseconds=enc)
    if kind == "date" and isinstance(enc, int):
        return datetime.date(1970, 1, 1) + datetime.timedelta(days=enc)
    return enc


# -- metadata-only aggregates -----------------------------------------
#
# The accumulator below folds file ENTRIES (not data) into exact
# COUNT/COUNT(col)/MIN/MAX answers — Delta's "answer count(*) from the
# transaction log" for this table format. Pure module functions so the
# big-table tier can run them inside a mapInPandas partial job over the
# same entries source the planners scan; the driver only ever holds one
# small accumulator per partial.


def _meta_acc_new(specs: dict) -> dict:
    return {
        "files": 0,
        "cols": {
            c: {
                "non_null": 0,
                "nn_ok": True,
                "min": None,
                "max": None,
                "mm_ok": True,
                "seen": False,
            }
            for c in specs
        },
    }


def _meta_merge(a: dict, lo, hi) -> None:
    try:
        if not a["seen"]:
            a["min"], a["max"], a["seen"] = lo, hi, True
            return
        if _enc_order(lo) < _enc_order(a["min"]):
            a["min"] = lo
        if _enc_order(hi) > _enc_order(a["max"]):
            a["max"] = hi
    except Exception:
        # incomparable encoding families (e.g. a column rewritten to a
        # different stat form by an evolved writer): unknown, not wrong
        a["mm_ok"] = False


def _meta_acc_update(acc: dict, e: dict, specs: dict) -> None:
    """Fold one file entry into the accumulator. ``specs`` maps the
    PHYSICAL column name to its committed simpleString kind. Honesty
    contract: a flag flips to False whenever the metadata cannot PROVE
    the exact answer (deletion vectors, missing stats/nulls, an
    un-canonicalizable partition dir) — the caller then computes that
    column with a real scan instead of guessing."""
    if _fully_dead(e):
        return
    acc["files"] += 1
    rows = e.get("rows") or 0
    has_dv = _dv_count(e) > 0
    part = e.get("partition") or {}
    stats = e.get("stats") or {}
    for c, kind in specs.items():
        a = acc["cols"][c]
        if has_dv:
            # deleted positions may hold the extrema or the NULLs
            a["nn_ok"] = a["mm_ok"] = False
            continue
        if c in part:
            # file-constant raw partition value: NULL dir ⇔ all rows
            # NULL; otherwise every row holds the canon'd dir value
            pv = part[c]
            a["non_null"] += 0 if pv is None else rows
            if pv is None:
                continue
            if kind == "string":
                cv = pv
            elif kind in ("tinyint", "smallint", "int", "bigint"):
                try:
                    cv = int(pv)
                except ValueError:
                    a["mm_ok"] = False
                    continue
            else:
                a["mm_ok"] = False
                continue
            _meta_merge(a, cv, cv)
            continue
        st = stats.get(c) or {}
        n = st.get("nulls")
        if n is None:
            a["nn_ok"] = False
        else:
            a["non_null"] += rows - n
        if st.get("min") is not None:
            _meta_merge(a, st["min"], st["max"])
        elif n is not None and n >= rows:
            pass  # provably all-NULL file: contributes no extrema
        else:
            a["mm_ok"] = False


def _meta_acc_combine(acc: dict, other: dict) -> None:
    acc["files"] += other["files"]
    for c, b in other["cols"].items():
        a = acc["cols"][c]
        a["non_null"] += b["non_null"]
        if not b["nn_ok"]:
            a["nn_ok"] = False
        if not b["mm_ok"]:
            a["mm_ok"] = False
        if b["seen"]:
            _meta_merge(a, b["min"], b["max"])


def _decimal_raw_stat(raw, scale: int):
    """Parquet DECIMAL raw statistic → exact ``{"dec": str}`` encoding.
    INT32/INT64-backed decimals surface the unscaled int directly;
    FIXED_LEN_BYTE_ARRAY/BYTE_ARRAY-backed ones surface big-endian
    two's-complement bytes. pyarrow cannot ``cast`` these statistics
    (ArrowNotImplementedError), which is why the raw form is decoded
    here instead of going through ``_stat_encode``."""
    if isinstance(raw, bytes):
        raw = int.from_bytes(raw, "big", signed=True)
    if isinstance(raw, bool) or not isinstance(raw, int):
        return None
    # scaleb is ARITHMETIC and rounds to the ambient context's 28-digit
    # precision — a decimal(38,2) bound would silently move INWARD
    # (min up / max down), the exact wrong-way movement that prunes a
    # file still holding the true extreme. Scale under exact precision.
    with decimal.localcontext() as ctx:
        ctx.prec = decimal.MAX_PREC
        return {"dec": str(decimal.Decimal(raw).scaleb(-scale))}


def _enc_order(x):
    """Encoded stat → an orderable Python value: decimal encodings
    (``{"dec": str}``) become exact ``decimal.Decimal``; every scalar
    encoding orders as itself. Callers gate on ``_comparable`` first —
    this never mixes families."""
    if isinstance(x, dict):
        return decimal.Decimal(x["dec"])
    return x


def _distributed_file_stats(
    spark: SparkSession, paths: list[str]
) -> dict[str, tuple[int, dict]]:
    """``_file_stats`` for every path, computed ON THE EXECUTORS.

    One Arrow-batched job over the path list: each task opens the
    footers of its slice (executors can always reach the files — they
    just wrote them) and ships back one bounded row per file
    ``(path, rows, stats-as-JSON)``. The driver's cost is O(files)
    tiny result rows, never O(files) storage round-trips — the
    difference between a 100k-file commit that works and one that
    stampedes the driver against an object store. Stats values are
    ``_stat_encode`` outputs (JSON scalars), so the JSON round-trip
    is lossless."""
    src = spark.createDataFrame([(p,) for p in paths], "path string").repartition(
        min(len(paths), 64)
    )

    def _footer_batches(batches):
        import json as _json

        import pandas as _pd

        from etl_job_spark.table import _file_stats as _fs

        for b in batches:
            recs = []
            for p in b["path"]:
                rows, stats = _fs(p)
                recs.append((p, rows, _json.dumps(stats)))
            yield _pd.DataFrame(recs, columns=["path", "rows", "stats"])

    got = src.mapInPandas(_footer_batches, "path string, rows bigint, stats string").collect()
    return {r["path"]: (int(r["rows"]), json.loads(r["stats"])) for r in got}


def _stat_probe_encode(v, kind: str | None, utc: bool = True):
    """Probe value → the stat unit of a column of type ``kind``
    (simpleString), or None when no sound mapping exists.

    The footer stats encode temporal columns in UNIT-SPECIFIC integers
    (date → epoch DAYS, timestamp → epoch MICROS), indistinguishable
    from plain int64 key stats once stored. A probe must therefore
    only encode when its unit provably matches the column's: a
    datetime probe against a date column (or any temporal probe
    against a column of unknown type) would compare micros against
    days as raw ints and prune every matching file — a silently missed
    GDPR delete. Unknown means never prune, same contract as every
    other encoder here.

    Datetime probes encode through ``TimestampType().toInternal`` —
    the EXACT conversion PySpark's ``F.lit(datetime)`` applies
    (verified: naive datetimes convert through the PYTHON process's
    local zone via mktime; neither the session zone nor the JVM
    default moves the literal) — so for plain ``timestamp`` columns,
    whose footer stats are already instants, probe and residual agree
    in ANY zone. ``timestamp_ntz`` stats are naive wall clocks encoded
    wall-as-UTC, which equal the stored instants only under a UTC
    session, so NTZ probes are additionally gated on ``utc``."""
    # NB: datetime.datetime IS a datetime.date subclass — check it first
    if isinstance(v, datetime.datetime):
        if kind is None or not kind.startswith("timestamp"):
            return None
        if kind != "timestamp" and not utc:
            return None  # ntz stats are instants only under UTC sessions
        from pyspark.sql.types import TimestampType

        return TimestampType().toInternal(v)
    if isinstance(v, datetime.date):
        return _stat_encode(v) if kind == "date" else None
    if kind is not None and kind.startswith("decimal"):
        # decimal columns compare EXACTLY against int and decimal
        # probes on both engines; against float/string Spark casts the
        # DECIMAL side to double — lossy, so those probes never prune
        if isinstance(v, bool) or isinstance(v, float):
            return None
        if isinstance(v, int):
            return {"dec": str(v)}
        if isinstance(v, decimal.Decimal) and v.is_finite():
            return {"dec": str(v)}
        return None
    if isinstance(v, decimal.Decimal):
        return None  # decimal probe against a non-decimal column
    if kind in ("date",) or (kind is not None and kind.startswith("timestamp")):
        return None  # non-temporal probe against a temporal column
    return _stat_encode(v)


def _probe_outside(e, fmin, fmax) -> bool:
    """True when probe value ``e`` is PROVABLY outside the recorded
    ``[fmin, fmax]`` under Spark's own comparison semantics (the bar a
    delete/merge planner must clear before skipping a file).

    Exact Python comparison agrees with Spark except for one corner:
    Spark compares bigint against double by casting the bigint side to
    double, which is lossy at or beyond 2**53 — a stored int64 whose
    double form equals the probe can sit outside the probe's exact
    position. Cross-type comparisons where either side reaches 2**53
    therefore never exclude (unknown = possibly present). Same-type
    comparisons (bigint=bigint, double=double, str=str) are exact on
    both engines at any magnitude, so snowflake-scale integer keys
    keep pruning."""
    if e is None or not _comparable(e, fmin):
        return False
    if isinstance(e, dict):  # decimal family: exact at any magnitude
        return _enc_order(e) < _enc_order(fmin) or _enc_order(e) > _enc_order(fmax)
    if isinstance(e, (int, float)) and type(e) is not type(fmin):
        big = 2**53
        if abs(e) >= big or abs(fmin) >= big or abs(fmax) >= big:
            return False
    return e < fmin or e > fmax


def _envelope_outside(
    st: dict, vals: list, kind: str | None = None, utc: bool = True
) -> bool:
    """Range check of a probe SET's overall min/max against a file's
    recorded range — the only test cheap enough for oversized value
    sets (> ``_BLOOM_PROBE_MAX``), and sound: if even the set's
    envelope misses the file's range entirely, no member can hit it.
    Any un-encodable value keeps the file (it might match anywhere)."""
    enc = [_stat_probe_encode(v, kind, utc) for v in vals]
    if any(e is None for e in enc):
        return False
    fmin, fmax = st.get("min"), st.get("max")
    if fmin is None or fmax is None:  # nulls-only stats entry
        return False
    if not all(_comparable(e, fmin) for e in enc):
        return False
    big = 2**53
    stored_big = (
        isinstance(fmin, (int, float)) and (abs(fmin) >= big or abs(fmax) >= big)
    )
    if any(
        isinstance(e, (int, float))
        and type(e) is not type(fmin)
        and (abs(e) >= big or stored_big)
        for e in enc
    ):
        # EVERY member must clear the lossy-cast bar, not just the
        # endpoints: a cross-type member past 2**53 (on either side)
        # can double-cast-equal a stored value the endpoints prune
        # around
        return False
    # the WHOLE envelope must sit on one side of the file's range —
    # a straddling envelope can hide members inside the range
    ordv = [_enc_order(e) for e in enc]
    lo, hi = min(ordv), max(ordv)
    return hi < _enc_order(fmin) or lo > _enc_order(fmax)


def _session_utc(spark: SparkSession) -> bool:
    """True when BOTH timezone knobs that bend timezone-sensitive
    pruning are UTC: the SESSION zone (governs SQL string literals,
    ``date_format`` — hence the transform-dir spellings — and NTZ
    casts) and the PYTHON process's local zone (governs naive-datetime
    literal conversion through ``TimestampType.toInternal``/mktime —
    verified; the JVM default moves neither). Non-UTC disables the
    transform-dir and NTZ-stat prunes — sound, just prunes less; plain
    timestamp-instant stat probes stay exact in any zone via
    ``toInternal`` and are not gated."""
    if spark.conf.get("spark.sql.session.timeZone") != "UTC":
        return False
    import time

    return time.timezone == 0 and (time.daylight == 0 or time.altzone == 0)


def _comparable(a, b) -> bool:
    """True when two encoded stats can be ordered soundly: both numeric
    (bools never reach here — ``_stat_encode`` drops them), both str,
    or both exact decimal encodings. A family mismatch (e.g. a stats
    column rewritten from int to its isoformat string by an evolved
    writer, or a decimal dict probed by a type-ignorant int encode)
    disables pruning on that column rather than risking a wrong
    comparison."""
    if isinstance(a, dict) or isinstance(b, dict):
        return (
            isinstance(a, dict) and isinstance(b, dict) and "dec" in a and "dec" in b
        )
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return True
    return isinstance(a, str) and isinstance(b, str)


def _range_excludes(
    st: dict, op: str, v, kind: str | None = None, utc: bool = True
) -> bool:
    """True when a file's recorded ``[min, max]`` proves NO row can
    satisfy ``col <op> v`` — the inequality half of read-path data
    skipping. Un-encodable probes, unit-mismatched temporal probes
    (``_stat_probe_encode``), and lossy cross-type comparisons
    (see ``_probe_outside``) never exclude."""
    e = _stat_probe_encode(v, kind, utc)
    if e is None:
        return False
    fmin, fmax = st.get("min"), st.get("max")
    if fmin is None or fmax is None:  # nulls-only stats entry
        return False
    if not _comparable(e, fmin):
        return False
    if isinstance(e, dict):  # decimal family: exact at any magnitude
        e, fmin, fmax = _enc_order(e), _enc_order(fmin), _enc_order(fmax)
    elif isinstance(e, (int, float)) and type(e) is not type(fmin):
        big = 2**53
        if abs(e) >= big or abs(fmin) >= big or abs(fmax) >= big:
            return False
    if op == ">=":
        return fmax < e
    if op == ">":
        return fmax <= e
    if op == "<=":
        return fmin > e
    if op == "<":
        return fmin >= e
    return False


# sentinels for partition-constant reasoning: a partition value either
# provably matches a probe, provably cannot, or we refuse to guess
_PART_UNKNOWN = object()


def _is_nan(x) -> bool:
    return isinstance(x, float) and x != x


def _canon_partition(x, kind):
    """Partition-dir string OR probe value → one canonical Python value
    under the column's committed type ``kind`` (simpleString), chosen
    so that exact Python comparison of two canon values agrees with
    Spark's implicit-cast comparison of the partition column against
    the probe literal. Returns ``None`` when the cast provably nulls
    out (Spark: never matches) and ``_PART_UNKNOWN`` when no sound
    mapping exists (never prune).

    NaN on either side is ``_PART_UNKNOWN``: Spark's ordering treats
    NaN as greater than every double and NaN = NaN as TRUE, while
    every Python NaN comparison is false — reasoning about it here
    would prune a NaN partition dir that predicates like ``x > 5`` or
    ``x = NaN`` actually match. Unknown = never prune."""
    try:
        if kind == "string":
            if isinstance(x, str):
                return x
            # non-string probe vs string column: Spark casts the STRING
            # side to double; mirror that on the stored value
            if isinstance(x, bool):
                return _PART_UNKNOWN
            if isinstance(x, (int, float)):
                if _is_nan(x) or abs(x) >= 2**53:
                    return _PART_UNKNOWN
                return float(x)
            return _PART_UNKNOWN
        if kind in ("tinyint", "smallint", "int", "bigint"):
            if isinstance(x, bool):
                return int(x)
            if isinstance(x, int):
                return x
            if isinstance(x, float):
                return _PART_UNKNOWN if _is_nan(x) or abs(x) >= 2**53 else x
            if isinstance(x, str):
                s = x.strip()
                try:
                    return int(s)
                except ValueError:
                    # Spark compares integral columns against decimal
                    # strings through double ('57.0' matches 57) —
                    # mirror with an exact sub-2**53 float
                    f = float(s)
                    return _PART_UNKNOWN if _is_nan(f) or abs(f) >= 2**53 else f
            return _PART_UNKNOWN
        if kind in ("float", "double"):
            if isinstance(x, bool):
                return float(x)
            if isinstance(x, (int, float)):
                return _PART_UNKNOWN if _is_nan(x) or abs(x) >= 2**53 else float(x)
            if isinstance(x, str):
                f = float(x.strip())
                return _PART_UNKNOWN if _is_nan(f) else f
            return _PART_UNKNOWN
        if kind == "date":
            if isinstance(x, datetime.datetime):
                return _PART_UNKNOWN
            if isinstance(x, datetime.date):
                return x
            if isinstance(x, str):
                return datetime.date.fromisoformat(x.strip())
            return _PART_UNKNOWN
    except ValueError:
        # the implicit cast fails: legacy mode yields NULL (never
        # matches); ANSI mode would RAISE mid-scan. Either way the file
        # contributes no matching row — pruning it is the Delta
        # behavior (a query that would have errored on a malformed
        # partition value instead skips it).
        return None
    return _PART_UNKNOWN


def _part_match_possible(pv: str | None, vals: list, kind: str | None) -> bool:
    """Whether a file-constant hive partition value ``pv`` can satisfy
    ``col IN vals`` under the column's committed type ``kind``. A NULL
    partition value satisfies nothing (SQL IN); probes whose implicit
    cast provably nulls out match nothing; anything we can't reason
    about soundly keeps the file."""
    if pv is None:
        return False
    # a MIXED string+numeric IN list makes Spark promote the WHOLE
    # comparison to double — string members then also match
    # numerically ('01' matches stored '1'), so the byte-wise string
    # fast path is only sound when every member is a string
    numeric_promoted = kind == "string" and any(not isinstance(x, str) for x in vals)
    for x in vals:
        if kind == "string" and isinstance(x, str) and not numeric_promoted:
            if pv == x:
                return True
            continue
        if kind is None:
            return True  # pre-evolution manifest: no type info, keep
        if kind == "string":
            cpv = _canon_partition(pv, "double")
            cx = _canon_partition(x, "double") if isinstance(x, str) else (
                _canon_partition(x, "string")
            )
        else:
            cpv = _canon_partition(pv, kind)
            cx = _canon_partition(x, kind)
        if cpv is _PART_UNKNOWN or cx is _PART_UNKNOWN:
            return True
        if cpv is None or cx is None:
            continue  # a NULL side never equals anything
        if cpv == cx:
            return True
    return False


def _part_range_excludes(pv: str | None, op: str, v, kind: str | None) -> bool:
    """Whether the file-constant partition value ``pv`` PROVABLY fails
    ``col <op> v``. NULL partition values fail every comparison (the
    whole file is excludable); unsound canonicalizations never
    exclude."""
    if pv is None:
        return True
    if kind == "string" and isinstance(v, str):
        cpv, cx = pv, v
    else:
        if kind is None:
            return False
        cpv = _canon_partition(pv, "double" if kind == "string" else kind)
        cx = _canon_partition(v, kind)
        if cpv is _PART_UNKNOWN or cx is _PART_UNKNOWN:
            return False
        if cpv is None or cx is None:
            return True  # a NULL side satisfies no comparison
    if op == ">=":
        return not cpv >= cx
    if op == ">":
        return not cpv > cx
    if op == "<=":
        return not cpv <= cx
    if op == "<":
        return not cpv < cx
    return False


def predicate_column(predicates: Sequence[tuple]) -> Column:
    """The conjunctive predicate spec as one Spark ``Column`` — the
    SAME spec ``_prune_by_key_stats`` plans from, so the residual
    filter and the file prune can never disagree."""
    out = None
    for p in predicates:
        col, op, v = p if len(p) == 3 else (*p, None)
        c = F.col(col)
        if op == "is_null":
            term = c.isNull()
        elif op == "not_null":
            term = c.isNotNull()
        elif op == "=":
            term = c == F.lit(v)
        elif op == "in":
            term = c.isin(list(v))
        elif op == "between":
            lo, hi = v
            term = c.between(F.lit(lo), F.lit(hi))
        elif op == ">=":
            term = c >= F.lit(v)
        elif op == ">":
            term = c > F.lit(v)
        elif op == "<=":
            term = c <= F.lit(v)
        elif op == "<":
            term = c < F.lit(v)
        else:
            raise ValueError(
                f"predicate op {op!r}: use '=', 'in', 'between', "
                "'<', '<=', '>', '>=', 'is_null', 'not_null'"
            )
        out = term if out is None else out & term
    if out is None:
        raise ValueError("empty predicate list: use snapshot() for a full scan")
    return out


def _stats_disjoint(entry: dict, key_ranges: dict[str, tuple]) -> bool:
    """True when ``entry``'s recorded min/max prove the file holds no
    row whose key columns all fall inside the source's ranges — i.e.
    the file provably contains no mergeable key and can be carried by
    reference. One provably-disjoint key column suffices (a matching
    row would need EVERY key column inside both ranges). Missing or
    incomparable stats never prune — unknown means "possibly touched"."""
    stats = entry.get("stats") or {}
    for col, (lo, hi) in key_ranges.items():
        st = stats.get(col)
        if st is None:
            continue
        fmin, fmax = st.get("min"), st.get("max")
        if fmin is None or fmax is None:  # nulls-only stats entry
            continue
        if not (_comparable(fmin, lo) and _comparable(fmax, hi)):
            continue
        if _enc_order(fmax) < _enc_order(lo) or _enc_order(fmin) > _enc_order(hi):
            return True
    return False


def _strip_file_scheme(path: str) -> str:
    """``file:``-scheme URI (as `_metadata.file_path` reports) → local
    filesystem path, percent-decoding any escaped characters."""
    if path.startswith("file:"):
        return urllib.parse.unquote(urllib.parse.urlparse(path).path)
    return path


def _rel_path_col(data_dir: str) -> Column:
    """``__file`` metadata URI → manifest-relative path, EXECUTOR-side.

    ``_metadata.file_path`` percent-encodes the on-disk spelling
    (verified: a partition dir ``dy=d%3A1 x`` — Spark's own hive
    escaping — surfaces as ``dy=d%253A1%20x``), while manifest entry
    paths carry the raw filesystem spelling from the write-time walk.
    One URL-decode recovers the filesystem form exactly; literal ``+``
    is protected first because ``url_decode`` is form-decoding
    (``+`` → space) and a raw ``+`` in a path is never encoded.

    Keying deletion vectors by this FULL relative path — partition
    dirs included — is what makes DV application collision-free: Spark
    reuses one task's ``part-NNNNN-<uuid>`` basename across every
    partition dir the task writes, so basenames alone silently apply
    one file's DV to its siblings (round-4 data-loss bug).

    ``_delete_where_mor`` validates every produced value against the
    manifest's entry paths, so a format drift in ``file_path`` fails
    loudly at delete time instead of silently mis-keying.
    """
    prefix = "file:" + os.path.abspath(data_dir) + "/"
    decoded = F.url_decode(F.replace(F.col("__file"), F.lit("+"), F.lit("%2B")))
    return F.substring(decoded, len(prefix) + 1, (1 << 31) - 1)


def _dv_count(entry: dict) -> int:
    """Total deleted positions an entry carries (inline + sidecar).
    ``dv_rows`` is recorded whenever positions spill to a sidecar;
    inline-only entries fall back to the list length."""
    n = entry.get("dv_rows")
    return int(n) if n is not None else len(entry.get("dv") or [])


def _fully_dead(entry: dict) -> bool:
    """True when every physical row of the file is DV-deleted — the
    file contributes nothing and readers skip it entirely (the stats
    on such a file would otherwise still block key-range pruning)."""
    rows = entry.get("rows")
    return bool(rows) and _dv_count(entry) >= rows


def entry_dv_positions(table_path: str, entry: dict) -> set:
    """All deletion-vector positions of ``entry`` — inline list plus
    sidecar parquet rows for this file's path (predicate-pushed read;
    sidecars are shared across the files of one commit). Executor-safe:
    pure pyarrow, no SparkSession."""
    pos = {int(i) for i in (entry.get("dv") or [])}
    if entry.get("dv_ref"):
        import pyarrow.parquet as pq

        for ref in entry["dv_ref"]:
            t = pq.read_table(
                os.path.join(table_path, ref),
                columns=["pos"],
                filters=[("path", "=", entry["path"])],
            )
            pos.update(int(i) for i in t.column("pos").to_pylist())
    return pos


def entry_arrow_table(
    table_path: str,
    entry: dict,
    fields: "StructType",
    cmap: dict | None,
    positions=None,
    drop_dead: bool = True,
):
    """One manifest entry's LIVE rows as a pyarrow Table aligned to the
    logical ``fields`` — the executor-side read both Python Data
    Sources share (the CDF stream and the batch ``manifest_table``
    format): column-projected parquet read by PHYSICAL name, deletion
    vector applied as a vectorized mask (or an explicit ``positions``
    take — the CDF DV-growth case), partition values reconstructed from
    the entry, renamed columns resolved through ``cmap``, columns added
    after the file was written filled with NULL. Pure pyarrow — no
    SparkSession, safe inside ``DataSourceReader.read``."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    cmap = cmap or {}
    # shallow-cloned entries resolve against their recorded source base
    root = entry.get("base") or os.path.join(table_path, "data")
    full = os.path.join(root, entry["path"])
    part_vals = entry.get("partition") or {}
    phys = [cmap.get(f.name, f.name) for f in fields.fields]
    pf = pq.ParquetFile(full)
    file_cols = set(pf.schema_arrow.names)
    want = [c for c in phys if c in file_cols]
    tbl = pq.read_table(full, columns=want)
    n = tbl.num_rows
    if positions is not None:
        idx = sorted(positions)
    elif drop_dead and (dead := entry_dv_positions(table_path, entry)):
        import numpy as np

        mask = np.ones(n, dtype=bool)
        mask[np.fromiter(dead, dtype=np.int64)] = False
        idx = np.flatnonzero(mask)
    else:
        idx = None
    if idx is not None:
        tbl = tbl.take(pa.array(idx, type=pa.int64()))
    m = tbl.num_rows
    target = to_arrow_schema(fields)
    cols, names = [], []
    for f, ph, tf in zip(fields.fields, phys, target):
        if ph in tbl.column_names:
            col = tbl.column(ph).combine_chunks().cast(tf.type)
        elif ph in part_vals:
            v = part_vals[ph]
            col = (
                pa.nulls(m, tf.type)
                if v is None
                else pa.array([str(v)] * m, type=pa.string()).cast(tf.type)
            )
        else:
            col = pa.nulls(m, tf.type)
        cols.append(col)
        names.append(f.name)
    return pa.table(dict(zip(names, cols)))


# -- per-file bloom filters (point-lookup skipping) -------------------
#
# Values canonicalize through str() on both the build side (pyarrow
# python values at write) and the probe side (collected Spark values /
# caller-passed keys), and blooms are built ONLY for integer and
# string columns, where the two spellings provably agree. Parquet's
# native column blooms (Spark: parquet.bloom.filter.enabled) skip row
# groups inside an already-opened scan; these manifest-level blooms
# are the complementary half — they skip the FILE at planning time,
# before any footer round-trip, the Iceberg puffin shape.


def _bloom_indexes(value, m: int, k: int) -> list[int]:
    """k bit positions for a value: double hashing off one md5 —
    deterministic, engine-independent, identical on build and probe."""
    import hashlib

    d = hashlib.md5(str(value).encode("utf-8")).digest()
    h1 = int.from_bytes(d[:8], "little")
    h2 = int.from_bytes(d[8:16], "little") | 1
    return [(h1 + i * h2) % m for i in range(k)]


def _bloom_build(values, n_rows: int, value_type: str) -> dict:
    """``value_type`` ('i' int / 's' str) is persisted and enforced at
    probe time: str() canonicalization only agrees between build and
    probe when the Python types agree (str(3.0) != str(3))."""
    m = _BLOOM_MIN_BITS
    while m < 10 * max(n_rows, 1) and m < _BLOOM_MAX_BITS:
        m *= 2
    bits = bytearray(m // 8)
    for v in values:
        if v is None:
            continue
        for ix in _bloom_indexes(v, m, _BLOOM_K):
            bits[ix >> 3] |= 1 << (ix & 7)
    return {
        "m": m,
        "k": _BLOOM_K,
        "t": value_type,
        "b64": base64.b64encode(bytes(bits)).decode(),
    }


def _bloom_canonical(value, value_type: str):
    """Probe value → the build side's canonical Python type, or the
    ``_BLOOM_SKIP`` sentinel when no sound mapping exists (probing
    would risk a silent false negative — the one failure a delete
    planner must never have). int-typed blooms accept bools/integral
    floats (Spark's isin compares them numerically); str-typed blooms
    accept only str."""
    if value_type == "i":
        if isinstance(value, bool):
            return int(value)
        if isinstance(value, int):
            return value
        if isinstance(value, float) and value.is_integer() and abs(value) < 2.0**53:
            # above 2**53 Spark's bigint<->double comparison casts the
            # STORED int to a lossy double: a stored k whose double
            # form equals the probe can differ from int(probe), so the
            # bloom built on k would wrongly exclude a file the
            # predicate actually matches. Unrepresentable probes never
            # prune.
            return int(value)
        return _BLOOM_SKIP
    if value_type == "s":
        return value if isinstance(value, str) else _BLOOM_SKIP
    return _BLOOM_SKIP  # unknown build type: never prune


_BLOOM_SKIP = object()


def _bloom_excludes(bloom: dict, values) -> bool:
    """True when the bloom proves NONE of ``values`` is in the file
    (any single possibly-present OR unprobeable value keeps the file
    in play). Uses the PERSISTED m/k/t — a sidecar written under an
    older tuning must keep probing with its own parameters."""
    bits = base64.b64decode(bloom["b64"])
    m = int(bloom["m"])
    k = int(bloom["k"])
    vtype = bloom.get("t", "?")
    for v in values:
        if v is None:
            continue
        cv = _bloom_canonical(v, vtype)
        if cv is _BLOOM_SKIP:
            return False  # can't canonicalize -> possibly present
        if all(bits[ix >> 3] & (1 << (ix & 7)) for ix in _bloom_indexes(cv, m, k)):
            return False
    return True


def _file_blooms(path: str, cols: Sequence[str]) -> dict[str, dict]:
    """Build blooms for ``cols`` from one parquet file: a single
    columnar read of just the indexed columns (runs wherever the
    caller is — executors for big commits). Non-int/str columns are
    skipped (their str() canonicalization is not probe-stable)."""
    import pyarrow as pa

    pf = pq.ParquetFile(path)
    schema = pf.schema_arrow
    use = [
        c
        for c in cols
        if c in schema.names
        and (
            pa.types.is_integer(schema.field(c).type)
            or pa.types.is_string(schema.field(c).type)
            or pa.types.is_large_string(schema.field(c).type)
        )
    ]
    if not use:
        return {}
    table = pf.read(columns=use)
    out = {}
    for c in use:
        vtype = "i" if pa.types.is_integer(schema.field(c).type) else "s"
        vals = [v for v in table.column(c).to_pylist() if v is not None]
        out[c] = _bloom_build(vals, len(vals), vtype)
    return out


# widen timestamp_ntz source bounds by this under a non-UTC session:
# the from_utc_timestamp re-encoding is exact except for wall clocks
# inside a DST transition window, where the zone offset used can be
# off by the DST shift. A day's margin swamps any legal offset
# (±14 h) + DST (1 h) while costing a daily-window merge essentially
# no pruning. Applied only when the session zone isn't UTC — the
# UTC-pinned common case keeps exact bounds.
_NTZ_SKEW_MARGIN_MICROS = 26 * 3600 * 1_000_000


def _source_key_ranges(source: DataFrame, keys: Sequence[str]) -> dict[str, tuple]:
    """min/max of each key column in the source — ONE aggregate job
    returning a single row of 2×len(keys) scalars (driver-side size is
    fixed, not data-sized). Temporal columns aggregate as epoch
    integers (unix_micros/unix_date — tz-independent, matching
    ``_stat_encode``'s footer encoding exactly); columns whose bounds
    can't be order-preservingly encoded (or that are all-NULL) are
    omitted and simply don't prune.

    ``timestamp_ntz`` keys need care: parquet footers record NTZ
    values as bare wall clocks, which ``_stat_encode`` encodes as
    wall-as-UTC micros. ``unix_micros(cast(ntz as timestamp))``
    interprets the wall clock in the SESSION zone — under a non-UTC
    session the two encodings differ by the zone offset and an
    overlapping file could be wrongly pruned (silently lost updates).
    ``from_utc_timestamp(cast(...), session_zone)`` undoes the session
    interpretation (verified: recovers wall-as-UTC under Asia/Seoul),
    and a one-day safety margin covers DST-transition wall clocks
    where the offset arithmetic can be off by the shift."""
    dtypes = dict(source.dtypes)
    session_tz = source.sparkSession.conf.get("spark.sql.session.timeZone")
    ntz_margin = 0 if session_tz == "UTC" else _NTZ_SKEW_MARGIN_MICROS
    ntz_cols = set()
    aggs = []
    for k in keys:
        dt = dtypes.get(k, "")
        if dt == "timestamp_ntz":
            expr = F.unix_micros(
                F.from_utc_timestamp(F.col(k).cast("timestamp"), session_tz)
            )
            ntz_cols.add(k)
        elif dt.startswith("timestamp"):
            expr = F.unix_micros(F.col(k).cast("timestamp"))
        elif dt == "date":
            expr = F.unix_date(F.col(k))
        else:
            expr = F.col(k)
        aggs.append(F.min(expr).alias(f"__lo_{k}"))
        aggs.append(F.max(expr).alias(f"__hi_{k}"))
    row = source.agg(*aggs).collect()[0]
    out: dict[str, tuple] = {}
    for k in keys:
        lo = _stat_encode(row[f"__lo_{k}"])
        hi = _stat_encode(row[f"__hi_{k}"])
        if lo is not None and hi is not None:
            if k in ntz_cols and ntz_margin:
                lo, hi = lo - ntz_margin, hi + ntz_margin
            out[k] = (lo, hi)
    return out


def _source_key_bounds(source: DataFrame, keys: Sequence[str]) -> dict[str, tuple]:
    """RAW min/max of each key column — one aggregate job, a fixed
    2×len(keys) scalars on the driver. Unlike ``_source_key_ranges``
    (footer-ENCODED, for ``_stats_disjoint``), these are plain Python
    values shaped as PREDICATE PROBES: ``_entry_matches_stats``
    normalizes and encodes them per column itself, which is what lets
    the merge range prune reason from partition constants and
    spec-history transform dirs too — not only footer stats. All-NULL
    or absent columns are omitted (a NULL source key never matches a
    target row, so it cannot make a file touched)."""
    present = [k for k in keys if k in source.columns]
    if not present:
        return {}
    aggs = []
    for k in present:
        aggs.append(F.min(F.col(k)).alias(f"__lo_{k}"))
        aggs.append(F.max(F.col(k)).alias(f"__hi_{k}"))
    row = source.agg(*aggs).collect()[0]
    return {
        k: (row[f"__lo_{k}"], row[f"__hi_{k}"])
        for k in present
        if row[f"__lo_{k}"] is not None and row[f"__hi_{k}"] is not None
    }


_ZORDER_BITS = 8  # 256 quantile buckets per dimension


def _zorder_key(df: DataFrame, cols: Sequence[str]) -> Column:
    """Space-filling-curve key: per-column QUANTILE bucket ids
    (skew-proof, unlike equal-width buckets) with their bits
    interleaved round-robin — rows close on the curve are close in
    every listed dimension, so range-clustering on this one key gives
    each file tight-ish min/max on ALL the columns.

    Driver-side cost is one ``approxQuantile`` pass (bounded: 255
    boundaries per column, shipped as literal arrays); per-row cost is
    a binary-search-free boundary count plus ``8 x n_cols`` bit ops,
    all inside codegen. Numeric columns only — quantiles need a total
    order the driver can enumerate."""
    if len(cols) * _ZORDER_BITS > 63:
        # bit position len(cols)*8 - 1 would land in the bigint sign
        # bit: top-bucket rows would get NEGATIVE keys and sort before
        # everything, silently scrambling the clustering
        raise ValueError(
            f"zorder supports at most {63 // _ZORDER_BITS} columns "
            f"({_ZORDER_BITS} bits each in a 63-bit signed key); got {len(cols)}"
        )
    numeric = {"int", "bigint", "smallint", "tinyint", "double", "float", "decimal"}
    dtypes = dict(df.dtypes)

    def _as_double(c: str) -> Column:
        dt = dtypes.get(c, "?")
        base = dt.split("(")[0]
        if dt.startswith("timestamp"):
            # DATE/TIMESTAMP don't cast to double directly — go
            # through their epoch integers
            return F.unix_micros(F.col(c).cast("timestamp")).cast("double")
        if base == "date":
            return F.unix_date(F.col(c)).cast("double")
        if base not in numeric:
            raise ValueError(
                f"zorder column {c!r} has type {dt!r}; z-ordering needs "
                "numeric/temporal columns (use plain cluster_by for "
                "lexicographic string clustering)"
            )
        return F.col(c).cast("double")

    probs = [i / (1 << _ZORDER_BITS) for i in range(1, 1 << _ZORDER_BITS)]
    cast_df = df.select(*[_as_double(c).alias(c) for c in cols])
    bounds = cast_df.approxQuantile(list(cols), probs, 0.001)
    key = None
    for i, c in enumerate(cols):
        arr = F.array(*[F.lit(b) for b in bounds[i]])
        # bucket id = #boundaries <= value (NULL -> bucket 0)
        bucket = F.size(
            F.filter(arr, lambda b: b <= F.coalesce(_as_double(c), F.lit(float("-inf"))))
        ).cast("bigint")
        for j in range(_ZORDER_BITS):
            term = F.shiftleft(
                F.shiftright(bucket, j).bitwiseAND(F.lit(1)), j * len(cols) + i
            )
            key = term if key is None else key + term
    return key.cast("bigint")


# -- hidden partitioning (Iceberg-style partition transforms) ---------
#
# A partition_by entry is either a raw column name or a TRANSFORM over
# one: days(ts) / months(ts) / truncate(N, col) / bucket(N, col). The
# table partitions its directories on the DERIVED value while the data
# files keep the source column untouched — queries filter the source
# column and never know the layout (per-file footer stats on the
# source column carry the fine-grained pruning; the transform dirs
# give merge/delete their touched-partition lists and keep the write
# clustered by the natural key). Derivation happens in ONE place
# (_write_data_files), so overwrite/append/merge/delete/compact all
# inherit it.

_TRANSFORM_RE = r"^(hours|days|months|bucket|truncate)\((?:\s*(\d+)\s*,)?\s*([A-Za-z0-9_]+)\s*\)$"


class _PartitionField:
    """One partition_by entry, resolved: ``dirname`` is the hive
    directory key, ``source`` the column it derives from (== dirname
    for raw columns), ``kind`` in {raw, days, months, bucket,
    truncate}, ``arg`` the N of bucket/truncate."""

    def __init__(self, spec: str):
        import re as _re

        self.spec = spec
        m = _re.match(_TRANSFORM_RE, spec.strip())
        if m is None:
            if "(" in spec:
                raise ValueError(
                    f"partition transform {spec!r}: supported forms are "
                    "hours(col), days(col), months(col), bucket(N, col), "
                    "truncate(N, col)"
                )
            self.kind, self.arg, self.source = "raw", None, spec.strip()
            self.dirname = self.source
            return
        self.kind = m.group(1)
        self.arg = int(m.group(2)) if m.group(2) else None
        self.source = m.group(3)
        if self.kind in ("bucket", "truncate") and not self.arg:
            raise ValueError(f"partition transform {spec!r} needs its N argument")
        if self.kind in ("hours", "days", "months") and self.arg is not None:
            # silently ignoring the N would give a user writing
            # bucket-style syntax (hours(3, ts)) plain hourly
            # partitioning with no error
            raise ValueError(
                f"partition transform {spec!r}: {self.kind}() takes no N "
                f"argument — use {self.kind}({self.source})"
            )
        suffix = {
            "hours": "hour",
            "days": "day",
            "months": "month",
            "bucket": "bucket",
            "truncate": "trunc",
        }
        self.dirname = f"{self.source}_{suffix[self.kind]}"

    def column(self, df: DataFrame) -> Column:
        """The derived partition value as a Spark column — string-typed
        so the hive directory spelling IS the logical value (the same
        string-in-the-log contract raw partition columns use). ``df``
        supplies the source column's type where the transform is
        type-dependent (integer vs string truncate)."""
        c = F.col(self.source)
        if self.kind == "raw":
            return c
        if self.kind == "hours":
            return F.date_format(c.cast("timestamp"), "yyyy-MM-dd HH")
        if self.kind == "days":
            return F.date_format(c.cast("timestamp"), "yyyy-MM-dd")
        if self.kind == "months":
            return F.date_format(c.cast("timestamp"), "yyyy-MM")
        if self.kind == "bucket":
            # md5-derived bucket: deterministic, engine-portable, and
            # computable in plain Python at plan time (_probe_bucket),
            # unlike xxhash64/murmur
            return F.pmod(
                F.conv(F.substring(F.md5(c.cast("string")), 1, 8), 16, 10).cast(
                    "bigint"
                ),
                F.lit(self.arg),
            ).cast("string")
        # truncate: Iceberg semantics — strings take the leading N
        # chars; integral columns floor to a multiple of N (the
        # double-mod form floors for negatives too, matching Python's
        # %, so the Python probe mirror stays exact)
        if dict(df.dtypes).get(self.source) in ("tinyint", "smallint", "int", "bigint"):
            n = self.arg
            return F.expr(
                f"cast({self.source} - ((({self.source} % {n}) + {n}) % {n})"
                " as string)"
            )
        return F.substring(c.cast("string"), 1, self.arg)


def _partition_fields(partition_by: Sequence[str] | None) -> list[_PartitionField]:
    return [_PartitionField(s) for s in (partition_by or [])]


def _prune_tmap(
    partition_by: Sequence[str] | None,
    partition_specs: Sequence[Sequence[str]] | None = None,
    utc: bool = True,
) -> dict[str, tuple["_PartitionField", ...]]:
    """source column → transform fields usable for PRUNING, unioned
    across the table's partition-spec HISTORY (``partition_specs``:
    prior ``partition_by`` lists recorded by ``alter_partition_spec``,
    oldest first; the current spec rides separately).

    After a spec change old files keep their old transform dirs — a
    fact about those files that stays prune-usable as long as the
    matcher knows the transform that derived each dirname. The union
    makes a days(ts)→months(ts) evolution keep pruning BOTH layouts on
    ``ts`` predicates instead of full-scanning the historical half.

    Soundness: a dirname defined DIFFERENTLY by two specs in history
    (bucket(8,k) → bucket(16,k) both derive ``k_bucket``) is dropped
    entirely — an old dir probed with the new arg would mis-prune; the
    matcher only ever reasons from dirnames whose definition is
    unambiguous across history. RAW fields participate in the conflict
    set too (a raw column literally named ``k_bucket`` in one spec and
    ``bucket(8, k)`` in another both own the ``k_bucket`` dir — old
    entries' raw values must not be probed as bucket numbers), but
    never in the transform map itself: raw dirs are matched by value
    elsewhere. Transform mirrors assume UTC sessions, so non-UTC
    callers get the empty map (same gate as before)."""
    if not utc:
        return {}
    defs: dict[str, tuple] = {}
    conflicted: set[str] = set()
    by_source: dict[str, dict[str, _PartitionField]] = {}
    specs = [list(partition_by or [])] + [list(s) for s in (partition_specs or [])]
    for spec in specs:
        for f in _partition_fields(spec):
            d = defs.get(f.dirname)
            if d is None:
                defs[f.dirname] = (f.kind, f.arg, f.source)
            elif d != (f.kind, f.arg, f.source):
                conflicted.add(f.dirname)
            if f.kind == "raw":
                continue
            by_source.setdefault(f.source, {}).setdefault(f.dirname, f)
    return {
        src: tuple(f for d, f in fields.items() if d not in conflicted)
        for src, fields in by_source.items()
        if any(d not in conflicted for d in fields)
    }


def _probe_bucket(value, n: int) -> int:
    """Python twin of _PartitionField.column()'s bucket derivation —
    lets the planner turn ``col = v`` into the one bucket directory
    that can hold it."""
    import hashlib as _h

    return int(_h.md5(str(value).encode()).hexdigest()[:8], 16) % n


def _transform_probe(field: "_PartitionField", v, col_kind: str | None = None):
    """Derived partition value a probe ``v`` lands in under
    ``field``'s transform — computed in plain Python, mirroring the
    Spark derivation exactly (UTC sessions; the caller disables
    transform pruning otherwise). ``_PART_UNKNOWN`` when no sound
    mirror exists for the probe's type — including any CROSS-TYPE
    probe of a bucket/truncate column, where Spark's implicit cast
    makes the comparison numeric while the directory was derived from
    the stored spelling (bucket('057') != bucket(57) even though
    '057' = 57 matches under coercion)."""
    if field.kind in ("hours", "days", "months"):
        # calendar bucketing is spelling-independent: a date or
        # datetime probe lands in its own calendar hour/day/month
        # whether the column is date or timestamp (Spark promotes
        # within the temporal family without changing the field)
        fmt = {"hours": "%Y-%m-%d %H", "days": "%Y-%m-%d", "months": "%Y-%m"}[
            field.kind
        ]
        if isinstance(v, datetime.datetime):
            if v.tzinfo is not None:
                v = v.astimezone(datetime.timezone.utc)
            return v.strftime(fmt)
        if isinstance(v, datetime.date):
            return v.strftime(fmt)
        return _PART_UNKNOWN
    if field.kind == "truncate":
        if isinstance(v, str) and col_kind == "string":
            return v[: field.arg]
        if (
            isinstance(v, int)
            and not isinstance(v, bool)
            and col_kind in ("tinyint", "smallint", "int", "bigint")
        ):
            # Python % floors like the engine-side double-mod form
            return str(v - (v % field.arg))
        return _PART_UNKNOWN
    if field.kind == "bucket":
        if isinstance(v, str) and col_kind == "string":
            return str(_probe_bucket(v, field.arg))
        if (
            isinstance(v, int)
            and not isinstance(v, bool)
            and col_kind in ("tinyint", "smallint", "int", "bigint")
        ):
            return str(_probe_bucket(v, field.arg))
        return _PART_UNKNOWN
    return _PART_UNKNOWN


def _entry_stats_may_contain(
    entry: dict,
    values_by_col: dict[str, list],
    types: dict[str, str] | None = None,
    utc: bool = True,
) -> bool:
    """The STATS half of ``_entry_may_contain`` — a pure function of
    the entry dict, so distributed planning can ship it to executors
    (blooms need sidecar file reads keyed through the table instance
    and stay a driver-side pass over the survivors)."""
    stats = entry.get("stats") or {}
    types = types or {}
    for col, values in values_by_col.items():
        vals = [v for v in values if v is not None]
        if not vals:
            continue
        st = stats.get(col)
        kind = types.get(col)
        if len(vals) > _BLOOM_PROBE_MAX:
            # oversized sets skip the per-value tests (cost) but
            # still range-prune on the set's overall envelope
            if st is not None and _envelope_outside(st, vals, kind, utc):
                return False
            continue
        if st is not None and st.get("min") is not None:
            fmin, fmax = st["min"], st["max"]
            if all(
                _probe_outside(_stat_probe_encode(v, kind, utc), fmin, fmax)
                for v in vals
            ):
                return False
    return True


def _bind_naive(v):
    """Naive-datetime probe → aware, with the DRIVER process's local
    zone attached. ``TimestampType().toInternal`` converts naive
    values through the PYTHON PROCESS's zone (mktime), so a matcher
    closure shipped to an executor whose worker runs a different TZ
    would encode a different instant than the driver's ``F.lit`` —
    files in the offset gap would be wrongly pruned. Binding the zone
    on the driver makes the encoding location-independent (aware
    datetimes convert by pure offset arithmetic) while preserving the
    residual filter's semantics, whose literal also converts through
    the driver process zone.

    The binding goes through ``time.mktime`` — the SAME call
    ``TimestampType().toInternal`` makes for naive values — not
    ``astimezone()``: the two can resolve a nonexistent/ambiguous
    local wall clock (DST gap/fold) to instants an hour apart
    (astimezone is PEP-495 fold-aware, mktime's gap handling is
    platform-defined), and a prune instant that disagrees with the
    residual's literal is exactly the silent-row-loss bug this
    function exists to prevent."""
    if isinstance(v, datetime.datetime) and v.tzinfo is None:
        import time as _time

        secs = int(_time.mktime(v.timetuple()))
        return datetime.datetime.fromtimestamp(
            secs, tz=datetime.timezone.utc
        ).replace(microsecond=v.microsecond)
    return v


def _normalize_predicates(predicates: Sequence[tuple]) -> list[tuple]:
    """Conjunctive predicate spec → constraints with ``=`` folded into
    single-member ``in``, ``between`` split into its two bounds,
    nullness tests padded to 3-tuples, and naive datetime probes
    zone-bound (``_bind_naive``) — the one normal form every planner
    (in-memory and distributed) reasons from."""
    norm: list[tuple] = []
    for p in predicates:
        col, op, v = p if len(p) == 3 else (*p, None)
        if op in ("is_null", "not_null"):
            norm.append((col, op, None))
        elif op == "=":
            norm.append((col, "in", [_bind_naive(v)]))
        elif op == "in":
            norm.append((col, "in", [_bind_naive(x) for x in v]))
        elif op == "between":
            lo, hi = v
            norm.append((col, ">=", _bind_naive(lo)))
            norm.append((col, "<=", _bind_naive(hi)))
        elif op in ("<", "<=", ">", ">="):
            norm.append((col, op, _bind_naive(v)))
        else:
            raise ValueError(
                f"predicate op {op!r}: use '=', 'in', 'between', "
                "'<', '<=', '>', '>=', 'is_null', 'not_null'"
            )
    return norm


def _entry_matches_stats(
    entry: dict,
    constraints: list[tuple],
    part_types: dict[str, str],
    tmap: dict[str, tuple["_PartitionField", ...]] | None = None,
    utc: bool = True,
) -> bool:
    """False only when some conjunctive constraint PROVABLY holds for
    no row of the file, judged from the entry dict alone (partition
    constants, transform dirs, footer stats — everything except bloom
    sidecars). Pure and picklable: this is the per-entry matcher the
    distributed planner ships to executors; the in-memory planner runs
    the same function, then layers blooms on top
    (``ManifestTable._entry_matches_possible``).

    ``tmap`` maps source column → the transform fields of the spec
    HISTORY (``_prune_tmap``); only fields whose dirname the entry's
    own partition dict actually carries apply — entries written under
    a different spec simply skip the transform tests (sound: absence
    proves nothing)."""
    part = entry.get("partition") or {}
    stats = entry.get("stats") or {}
    tmap = tmap or {}
    for col, op, v in constraints:
        t_fields = [f for f in (tmap.get(col) or ()) if f.dirname in part]
        if op in ("is_null", "not_null"):
            want_null = op == "is_null"
            if col in part:
                # file-constant partition value: NULL dir ⇔ every row
                # NULL, non-NULL dir ⇔ every row that exact value
                if (part[col] is None) != want_null:
                    return False
                continue
            if t_fields:
                # every transform is null-preserving (date_format,
                # md5-bucket, substring/arith truncate all yield NULL
                # for NULL input), so a non-NULL dir proves zero NULL
                # sources and a NULL dir proves all-NULL sources
                if (part[t_fields[0].dirname] is None) != want_null:
                    return False
                continue
            st = stats.get(col) or {}
            n = st.get("nulls")
            if n is not None:
                if want_null and n == 0:
                    return False
                rows = entry.get("rows")
                if not want_null and rows and n >= rows:
                    return False
            continue
        if op == "in":
            vals = [x for x in v if x is not None]
            if not vals:
                return False  # IN (NULL…) matches nothing
            if col in part:
                if not _part_match_possible(part[col], vals, part_types.get(col)):
                    return False
                continue  # raw partition col: not in the data files
            for field in t_fields:
                pv = part[field.dirname]
                if pv is None:
                    return False  # every source value in the file is NULL
                dvs = [
                    _transform_probe(field, x, part_types.get(col)) for x in vals
                ]
                if all(d is not _PART_UNKNOWN for d in dvs) and pv not in set(dvs):
                    return False
            if not _entry_stats_may_contain(entry, {col: vals}, part_types, utc):
                return False
        else:
            if v is None:
                return False  # NULL comparison matches nothing
            if col in part:
                if _part_range_excludes(part[col], op, v, part_types.get(col)):
                    return False
                continue
            for field in t_fields:
                if field.kind not in ("hours", "days", "months", "truncate"):
                    continue
                # monotonic floor transforms: x >= v ⇒ t(x) >= t(v)
                pv = part[field.dirname]
                if pv is None:
                    return False
                col_kind = part_types.get(col)
                dv = _transform_probe(field, v, col_kind)
                if dv is not _PART_UNKNOWN:
                    a, b = pv, dv
                    if field.kind == "truncate" and col_kind in (
                        "tinyint", "smallint", "int", "bigint",
                    ):
                        # integer-truncate dirs compare NUMERICALLY:
                        # '10' < '9' lexicographically would mis-prune
                        try:
                            a, b = int(pv), int(dv)
                        except ValueError:
                            a = b = None
                    if a is not None:
                        if op in (">=", ">") and a < b:
                            return False
                        if op in ("<=", "<") and a > b:
                            return False
            st = stats.get(col)
            if st is not None and _range_excludes(
                st, op, v, part_types.get(col), utc
            ):
                return False
    return True


def _enc_exact_eq(e, f) -> bool:
    """True only when two stat encodings PROVABLY denote the same
    value: same family, and no cross-type comparison that could lie
    (int/float above 2^53, bool/int aliasing). Unprovable = False."""
    if isinstance(e, dict) or isinstance(f, dict):
        if isinstance(e, dict) and isinstance(f, dict):
            try:
                return decimal.Decimal(e["dec"]) == decimal.Decimal(f["dec"])
            except Exception:
                return False
        return False
    if isinstance(e, bool) or isinstance(f, bool):
        return False
    if isinstance(e, str) != isinstance(f, str):
        return False
    if isinstance(e, str):
        return e == f
    if not isinstance(e, (int, float)) or not isinstance(f, (int, float)):
        return False
    if type(e) is not type(f) and (abs(e) >= 2**53 or abs(f) >= 2**53):
        return False
    return e == f


def _entry_all_match(
    entry: dict,
    constraints: list[tuple],
    part_types: dict[str, str],
    tmap: dict[str, tuple["_PartitionField", ...]] | None = None,
    utc: bool = True,
) -> bool:
    """True only when the entry's metadata PROVES every row satisfies
    every conjunctive constraint — the positive dual of
    ``_entry_matches_stats``, and the test that lets ``count_where``
    count a file from its footer row count without scanning it.

    Soundness leans the opposite way from the exclusion matcher:
    anything unprovable returns False (the file just gets scanned),
    and comparison constraints additionally require a RECORDED ZERO
    null count (a NULL row satisfies no comparison, so stats ranges
    alone can never prove all-match). Parquet's possibly-truncated
    binary min/max stay sound here too: truncation only widens the
    recorded range, and all-match tests against the wide bounds."""
    part = entry.get("partition") or {}
    stats = entry.get("stats") or {}
    rows = entry.get("rows") or 0
    tmap = tmap or {}
    if rows <= 0:
        return False
    for col, op, v in constraints:
        t_fields = [f for f in (tmap.get(col) or ()) if f.dirname in part]
        if op in ("is_null", "not_null"):
            want_null = op == "is_null"
            if col in part:
                if (part[col] is None) == want_null:
                    continue
                return False
            if t_fields:
                # null-preserving transforms: dir nullness ⇔ source
                # nullness for every row of the file
                if (part[t_fields[0].dirname] is None) == want_null:
                    continue
                return False
            n = (stats.get(col) or {}).get("nulls")
            if n is not None and ((want_null and n >= rows) or (not want_null and n == 0)):
                continue
            return False
        if op == "in":
            vals = [x for x in v if x is not None]
            if not vals:
                return False
            if col in part:
                kind = part_types.get(col)
                if part[col] is None or kind is None:
                    return False
                cpv = _canon_partition(part[col], kind)
                if cpv is _PART_UNKNOWN or cpv is None:
                    return False
                cvs = [_canon_partition(x, kind) for x in vals]
                if any(c is _PART_UNKNOWN for c in cvs):
                    return False
                if any(c is not None and cpv == c for c in cvs):
                    continue
                return False
            st = stats.get(col) or {}
            if st.get("nulls") != 0:
                return False
            fmin, fmax = st.get("min"), st.get("max")
            if fmin is None or not _enc_exact_eq(fmin, fmax):
                return False
            encs = [_stat_probe_encode(x, part_types.get(col), utc) for x in vals]
            if any(e is not None and _enc_exact_eq(e, fmin) for e in encs):
                continue
            return False
        # inequality / range constraint
        if v is None:
            return False
        if col in part:
            kind = part_types.get(col)
            if part[col] is None:
                return False
            if kind == "string" and isinstance(v, str):
                cpv, cx = part[col], v
            else:
                if kind is None:
                    return False
                cpv = _canon_partition(part[col], "double" if kind == "string" else kind)
                cx = _canon_partition(v, kind)
                if (
                    cpv is _PART_UNKNOWN
                    or cx is _PART_UNKNOWN
                    or cpv is None
                    or cx is None
                ):
                    return False
            if (
                (op == ">=" and cpv >= cx)
                or (op == ">" and cpv > cx)
                or (op == "<=" and cpv <= cx)
                or (op == "<" and cpv < cx)
            ):
                continue
            return False
        st = stats.get(col) or {}
        if st.get("nulls") != 0:
            return False
        fmin, fmax = st.get("min"), st.get("max")
        if fmin is None:
            return False
        e = _stat_probe_encode(v, part_types.get(col), utc)
        if e is None or not _comparable(e, fmin):
            return False
        if isinstance(e, dict):
            e, fmin, fmax = _enc_order(e), _enc_order(fmin), _enc_order(fmax)
        elif isinstance(e, (int, float)) and type(e) is not type(fmin):
            if abs(e) >= 2**53 or abs(fmin) >= 2**53 or abs(fmax) >= 2**53:
                return False
        if (
            (op == ">=" and fmin >= e)
            or (op == ">" and fmin > e)
            or (op == "<=" and fmax <= e)
            or (op == "<" and fmax < e)
        ):
            continue
        return False
    return True


# -- distributed read planning ("metadata as data") -------------------
#
# Below _SPARK_PRUNE_MIN_FILES the per-entry matcher runs as a driver
# loop (a Spark job's scheduling latency would dominate); at or above
# it, planning itself becomes a Spark job: the file entries — already
# a columnar parquet TABLE for big checkpoints (files_ref sidecars) —
# are scanned with mapInPandas running the SAME pure matcher on the
# executors, and only the O(matching) survivors return to the driver.
# This is the Delta/Iceberg shape (checkpoint-parquet / Avro manifests
# planned as a distributed scan): at 10^6 files (a 100 TB table at
# 100 MB/file) the driver never parses — for sidecar-backed versions,
# never even HOLDS — the full entry list. Bloom probes stay a driver
# pass over the survivors either way (sidecar reads are keyed through
# the table instance and touch O(matching) files).


def _entries_df(spark: SparkSession, entries: list[dict]) -> DataFrame:
    """Driver-held entry list → one-column DataFrame of entry JSON
    (Arrow-shipped, sliced across the default parallelism). The tier
    for big INLINE manifests and already-resolved caches; sidecar
    checkpoints scan their parquet directly and skip the driver hop."""
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame({"entry": [json.dumps(e, sort_keys=True) for e in entries]}),
        schema="entry string",  # explicit: an empty list must not
        # trip CANNOT_INFER_EMPTY_SCHEMA (zero-file versions)
    )


def _spark_filter_entries(
    source: DataFrame,
    match_fn: Callable[[dict], bool],
    skip_paths: "frozenset[str] | set[str] | None" = None,
) -> list[dict]:
    """The planning job: mapInPandas over ``source``'s ``entry`` JSON
    column, keeping rows where ``match_fn`` (a pure closure over
    module-level matchers — picklable by construction) holds; rows
    whose path is in ``skip_paths`` are dropped unseen (delta-chain
    removes/replacements, re-planned driver-side). Returns surviving
    entry dicts in scan order — O(matching) driver memory."""
    skip = frozenset(skip_paths or ())

    def keep(batches):
        import pandas as pd

        for pdf in batches:
            out = [
                s
                for s in pdf["entry"]
                if (e := json.loads(s))["path"] not in skip and match_fn(e)
            ]
            yield pd.DataFrame({"entry": pd.Series(out, dtype="object")})

    rows = source.select("entry").mapInPandas(keep, "entry string").collect()
    return [json.loads(r.entry) for r in rows]


def _renamed(df: DataFrame, mapping: dict[str, str] | None) -> DataFrame:
    """Rename columns through ``mapping`` (missing = keep) as ONE
    simultaneous projection — unlike chained withColumnRenamed, a swap
    ({a: b, b: a}) cannot transiently collide. Columns outside the
    mapping (including planner extras like __file/__idx) pass through
    untouched."""
    if not mapping or not any(c in mapping for c in df.columns):
        return df
    return df.select(*[F.col(c).alias(mapping.get(c, c)) for c in df.columns])


def _align(
    df: DataFrame, schema: StructType, column_map: dict[str, str] | None = None
) -> DataFrame:
    """Project ``df`` onto ``schema``: stable column order, NULL-fill
    for columns the frame lacks (additive schema evolution), and — for
    tables with RENAMED columns — resolve each logical field from its
    PHYSICAL name in the files (``column_map``: logical → physical,
    Delta's column-mapping shape: a rename changes only this map;
    every file, old and new, keeps storing the physical name). A frame
    already in that shape is returned unchanged, with no projection."""
    cmap = column_map or {}
    have = {f.name: f.dataType for f in df.schema.fields}
    names = [f.name for f in schema.fields]
    if (
        df.columns == names
        and all(cmap.get(n, n) == n for n in names)
        and all(have[f.name] == f.dataType for f in schema.fields)
    ):
        return df
    return df.select(
        *[
            F.col(cmap.get(f.name, f.name)).cast(f.dataType).alias(f.name)
            if cmap.get(f.name, f.name) in have
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in schema.fields
        ]
    )


def _read_schema(
    schema: StructType, column_map: dict[str, str] | None, hive: Sequence[str]
) -> StructType:
    """The scan schema of one write batch, built from the committed
    schema so the reader never opens a footer to infer one: every
    committed field under its PHYSICAL name (``column_map``) with its
    committed type — the parquet reader NULL-fills a field the batch's
    files predate and widens a narrower stored type — and the batch's
    hive directory keys (``hive``) as strings, so every partition
    column is typed here and no partition type inference runs (the
    string-in-the-log / cast-on-read contract; ``_align`` casts).
    Field metadata is dropped and every field is nullable, as a file
    scan presents them."""
    cmap = column_map or {}
    fields = [
        StructField(p, StringType() if p in hive else f.dataType)
        for f in schema.fields
        for p in [cmap.get(f.name, f.name)]
    ]
    have = {f.name for f in fields}
    return StructType(
        fields + [StructField(k, StringType()) for k in hive if k not in have]
    )


class ManifestTable:
    """A parquet table whose committed state is a versioned manifest."""

    def __init__(self, path: str, store: CommitStore | None = None):
        self.path = path.rstrip("/")
        self.manifest_dir = os.path.join(self.path, _MANIFEST_DIR)
        self.data_dir = os.path.join(self.path, _DATA_DIR)
        # control-plane blob store (manifests + their parquet sidecars).
        # Default is the POSIX impl rooted at the table path — the
        # engine's historical behavior verb for verb; injecting another
        # CommitStore moves every manifest read/write/list/delete (and
        # the put-if-absent commit point) onto that backend. The data
        # plane (parquet data files, DVs, bloom sidecars — all
        # uuid-named immutable blobs) intentionally bypasses it; see
        # etl_job_spark.commit_store's two-plane contract.
        self.store: CommitStore = store or LocalFSCommitStore(self.path)
        # version -> resolved file-entry list. Committed manifests are
        # immutable, so the cache is sound for the instance's lifetime;
        # it keeps delta-chain resolution O(1) amortized per version.
        self._files_cache: dict[int, list[dict]] = {}
        # bloom sidecar ref -> {rel data path -> {col -> bloom}};
        # sidecars are immutable once written, so caching is sound
        self._bloom_cache: dict[str, dict] = {}
        # observability: how the most recent snapshot_where / merge /
        # delete planned its file prune ({"mode": "driver" |
        # "distributed" | "distributed-lazy", ...}) — what the
        # planning tests (and a curious operator) inspect
        self.last_planning: dict | None = None
        # when set (by TransactionalCatalog), _publish hands the
        # (version, manifest) pair to this callback INSTEAD of linking
        # it — the op runs fully (reads, prunes, data-file writes) but
        # the commit point moves to the catalog's transaction log
        self._capture: Callable[[int, dict], None] | None = None
        # observability: which route the most recent _write_data_files
        # call took ("fused" single-pass guarded write | "native"
        # Spark parquet writer) — what the write-route tests pin
        self.last_write_route: str | None = None
        # pending-manifest overlay (set by Transaction for CHAINED ops
        # on one table): version -> captured-but-unpublished manifest.
        # versions()/_read_raw_manifest consult it, so statement N+1
        # of a multi-statement transaction reads statement N's
        # uncommitted state on THIS instance while every other reader
        # still sees the published table. Instance-private: catalog
        # readers get fresh instances, never this one.
        self._pending: dict[int, dict] = {}

    # -- bloom probing -------------------------------------------------

    def _entry_blooms(self, entry: dict) -> dict:
        ref = entry.get("bloom_ref")
        if not ref:
            return {}
        cached = self._bloom_cache.get(ref)
        if cached is None:
            try:
                with open(os.path.join(self.path, ref)) as f:
                    cached = json.load(f)
            except OSError:
                cached = {}  # missing sidecar = no blooms = never prunes
            self._bloom_cache[ref] = cached
        return cached.get(entry["path"], {})

    def _entry_may_contain(
        self,
        entry: dict,
        values_by_col: dict[str, list],
        types: dict[str, str] | None = None,
        utc: bool = True,
    ) -> bool:
        """False only when the entry PROVABLY holds none of the probe
        values: some column's recorded min/max excludes every value, or
        some column's bloom tests negative for every value. Missing
        stats/blooms (or oversized probe sets) never prune — unknown
        means "possibly contains", the same soundness contract as
        ``_stats_disjoint``. ``types`` (column → simpleString) lets the
        stats tests refuse unit-mismatched temporal probes — without it
        every temporal probe is treated as un-encodable (sound, just
        prunes less). The stats half is the pure module-level
        ``_entry_stats_may_contain`` (what distributed planning ships
        to executors); the bloom sidecar probe stays here, deferred
        past the stats tests."""
        if not _entry_stats_may_contain(entry, values_by_col, types, utc):
            return False
        blooms: dict | None = None  # sidecar load deferred past stats
        for col, values in values_by_col.items():
            vals = [v for v in values if v is not None]
            if not vals or len(vals) > _BLOOM_PROBE_MAX:
                continue
            if blooms is None:
                blooms = self._entry_blooms(entry)
            bloom = blooms.get(col)
            if bloom and _bloom_excludes(bloom, vals):
                return False
        return True

    # -- version bookkeeping ------------------------------------------

    def versions(self) -> list[int]:
        out = list(self._pending)  # txn-chained captures (see __init__)
        for name in self.store.list_dir(_MANIFEST_DIR):
            if name.startswith("v") and name.endswith(".json"):
                out.append(int(name[1:-5]))
        return sorted(set(out))

    def latest_version(self) -> int | None:
        vs = self.versions()
        return vs[-1] if vs else None

    def _read_raw_manifest(self, version: int) -> dict:
        """One manifest file as written: either a checkpoint (full
        ``files`` list) or a delta (``delta.upserts``/``delta.removes``
        against ``base_version``). A txn-chained PENDING capture (see
        ``_pending``) shadows the disk — shallow-copied so the reader's
        in-place ``files`` resolution never mutates the manifest the
        transaction will publish."""
        pending = self._pending.get(version)
        if pending is not None:
            return dict(pending)
        raw = json.loads(
            self.store.read(os.path.join(_MANIFEST_DIR, _manifest_name(version)))
        )
        need = int((raw.get("protocol") or {}).get("reader", 1))
        if need > _READER_PROTOCOL:
            raise RuntimeError(
                f"version {version} of {self.path} requires manifest reader "
                f"protocol {need} (this engine reads up to "
                f"{_READER_PROTOCOL}) — it was written by a newer engine; "
                "upgrade before reading"
            )
        return raw

    def _read_manifest(self, version: int) -> dict:
        """Manifest with its ``files`` list RESOLVED — the call-site
        contract predating checkpointing, preserved so every reader of
        ``man["files"]`` is oblivious to how the version was stored.

        Delta manifests resolve by walking back to the nearest
        checkpoint (at most ``_CHECKPOINT_INTERVAL`` manifest reads —
        the O(1)-in-table-history open cost) and replaying each delta:
        ``removes`` drop paths, ``upserts`` replace-in-place or append.
        Data files are immutable, so a path never changes meaning;
        entry CONTENT can change without the path changing (DV-only
        commits), which is why deltas carry whole entries, not paths.
        Big checkpoints carry ``files_ref`` — a parquet sidecar — and
        resolve through one columnar read instead of a JSON parse.
        """
        raw = self._read_raw_manifest(version)
        if "files" not in raw:
            if "files_ref" in raw:
                raw["files"] = self._read_files_parquet(raw["files_ref"])
            else:
                raw["files"] = self._resolve_files(raw)
        self._files_cache.setdefault(version, raw["files"])
        return raw

    def _read_files_parquet(self, ref: str) -> list[dict]:
        tbl = read_parquet_via(
            self.store, os.path.join(_MANIFEST_DIR, ref), columns=["entry"]
        )
        return [json.loads(s) for s in tbl.column("entry").to_pylist()]

    def _write_files_parquet(self, entries: list[dict]) -> str:
        """Land the entry list as ``files-<uuid>.parquet`` (one row per
        file: its path for planning-side filters, the whole entry as
        JSON for lossless round-trip of heterogeneous stats/DV/bloom
        fields). Uuid-named per commit ATTEMPT: a losing optimistic
        retry orphans its sidecar, which vacuum reclaims like any
        unreferenced file."""
        import pyarrow as pa

        name = f"files-{uuid.uuid4().hex}.parquet"
        tbl = pa.table(
            {
                "path": [e["path"] for e in entries],
                "entry": [json.dumps(e, sort_keys=True) for e in entries],
            }
        )
        write_parquet_via(self.store, os.path.join(_MANIFEST_DIR, name), tbl)
        return name

    def _resolve_files(self, raw: dict) -> list[dict]:
        base_version = raw["base_version"]
        base_files = self._files_cache.get(base_version)
        if base_files is None:
            base_files = self._read_manifest(base_version)["files"]
        delta = raw["delta"]
        removes = set(delta["removes"])
        upserts = {e["path"]: e for e in delta["upserts"]}
        out = []
        for e in base_files:
            p = e["path"]
            if p in removes:
                continue
            out.append(upserts.pop(p, e))
        # genuinely-new paths append in the delta's recorded order
        out.extend(e for e in delta["upserts"] if e["path"] in upserts)
        return out

    def _materialize_manifest(self, version: int) -> None:
        """Rewrite a delta manifest in place as its resolved full form
        (identical logical content — readers see either spelling and
        resolve the same files). ``vacuum`` calls this on the oldest
        retained version before dropping older manifests, so no
        retained delta is ever left without its base chain.
        ``files_ref`` checkpoints are already self-contained (their
        parquet sidecar lives in the manifest dir and is retained with
        them); big materializations take the parquet form themselves."""
        raw = self._read_raw_manifest(version)
        if "files" in raw or "files_ref" in raw:
            return
        files = self._read_manifest(version)["files"]
        full = {k: v for k, v in raw.items() if k != "delta"}
        if len(files) >= _FILES_PARQUET_MIN:
            full["files_ref"] = self._write_files_parquet(files)
            full["n_files"] = len(files)
        else:
            full["files"] = files
        self.store.write(
            os.path.join(_MANIFEST_DIR, _manifest_name(version)),
            json.dumps(full, indent=1, sort_keys=True).encode(),
        )

    # -- reads --------------------------------------------------------

    def snapshot(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """DataFrame over one committed version (default: latest).

        The returned plan references the manifest's files directly, so
        it stays valid while newer versions commit — time travel is
        just passing an older ``version``. Building it is driver-only
        metadata work: the scan schema comes from the manifest's
        committed ``fields`` and ``column_map`` (``_read_files``), so no
        Spark job runs until the caller acts on the frame. Only a
        manifest without ``fields`` infers its schema from the files.
        """
        if version is None:
            version = self.latest_version()
            if version is None:
                raise FileNotFoundError(f"no committed version at {self.path}")
        man = self._read_manifest(version)
        schema = self._manifest_schema(man)
        if not man["files"]:
            return spark.createDataFrame([], schema or man["schema"])
        df = self._read_files(spark, man["files"], man)
        if schema is None:
            return df
        # present the committed (evolved) schema: renamed columns
        # resolved from their physical names, and partition columns
        # (read back as strings — see _read_files) cast to their
        # committed types and moved to their committed positions
        return _align(df, schema, man.get("column_map"))

    def version_as_of(self, timestamp: str) -> int:
        """The latest version whose ``committed_at`` is <= ``timestamp``
        (ISO-8601, UTC assumed when naive). Versions predating the
        committed_at field (or an empty history before ``timestamp``)
        raise, matching Delta's out-of-range error."""
        want = datetime.datetime.fromisoformat(timestamp)
        if want.tzinfo is None:
            want = want.replace(tzinfo=datetime.timezone.utc)
        best = None
        for v in self.versions():
            # raw read: committed_at is inline — resolving file lists
            # here would materialize every checkpoint just for a scalar
            at = self._read_raw_manifest(v).get("committed_at")
            if at is not None and datetime.datetime.fromisoformat(at) <= want:
                best = v
        if best is None:
            raise ValueError(
                f"no version of {self.path} committed at or before {timestamp}"
            )
        return best

    def snapshot_as_of(self, spark: SparkSession, timestamp: str) -> DataFrame:
        """Timestamp time travel — SELECT ... TIMESTAMP AS OF: the
        snapshot of ``version_as_of(timestamp)``."""
        return self.snapshot(spark, version=self.version_as_of(timestamp))

    # -- read-path data skipping --------------------------------------

    def _prune_by_key_stats(
        self,
        entries: list[dict],
        predicates: Sequence[tuple],
        schema: StructType | None = None,
        partition_by: Sequence[str] | None = None,
        utc: bool = True,
        column_map: dict[str, str] | None = None,
        partition_specs: Sequence[Sequence[str]] | None = None,
    ) -> tuple[list[dict], list[dict]]:
        """Split ``entries`` into (kept, pruned) under a conjunctive
        predicate spec — the read-time half of data skipping whose
        write-time half is ``_file_stats``/``_write_bloom_sidecars``.

        ``predicates`` is a list of ``(col, op, value)`` with op one of
        ``'=' 'in' 'between' '<' '<=' '>' '>='`` (``between`` takes a
        ``(lo, hi)`` pair, ``in`` a value list) plus the value-less
        nullness tests ``('col', 'is_null')`` / ``('col', 'not_null')``
        (footer null counts, NULL partition dirs, and null-preserving
        transform dirs all prune them), ANDed together. A file
        is pruned only when some constraint PROVABLY excludes every row
        it holds: its hive partition value (a file constant) fails the
        constraint, its recorded min/max range misses it, or its bloom
        filter tests negative for every probed value. Missing stats,
        un-encodable probes, and lossy cross-type comparisons never
        prune — identical soundness contract to the MERGE/DELETE
        planners, which share these primitives.

        ``utc`` gates BOTH timezone-sensitive prune families: the
        transform-dir reasoning (the Python mirror of days()/hours()
        derivation assumes UTC sessions) AND timestamp-kind stat
        probes (footer stats are wall-as-UTC micros; a non-UTC session
        interprets the probe literal in its own zone)."""
        cmap = column_map or {}
        # translate LOGICAL spec/type names to the PHYSICAL namespace
        # everything below (stats keys, partition dirs, blooms) lives in
        norm = [
            (cmap.get(col, col), op, v)
            for col, op, v in _normalize_predicates(predicates)
        ]
        part_types = {
            cmap.get(f.name, f.name): f.dataType.simpleString()
            for f in (schema.fields if schema else [])
        }
        tmap = _prune_tmap(partition_by, partition_specs, utc)
        kept, pruned = [], []
        for e in entries:
            if _fully_dead(e) or not self._entry_matches_possible(
                e, norm, part_types, tmap, utc=utc
            ):
                pruned.append(e)
            else:
                kept.append(e)
        return kept, pruned

    def _entry_matches_possible(
        self,
        entry: dict,
        constraints: list[tuple],
        part_types: dict[str, str],
        tmap: dict[str, "_PartitionField"] | None = None,
        utc: bool = True,
    ) -> bool:
        """False only when some conjunctive constraint PROVABLY holds
        for no row of the file. The partition-constant, transform-dir,
        and footer-stats tests are the pure ``_entry_matches_stats``
        (shared verbatim with the distributed planner); the bloom
        sidecar probe layers on top for small ``in`` sets over
        non-partition columns."""
        if not _entry_matches_stats(entry, constraints, part_types, tmap, utc):
            return False
        part = entry.get("partition") or {}
        for col, op, v in constraints:
            if op != "in" or col in part:
                continue
            vals = [x for x in v if x is not None]
            if not vals or len(vals) > _BLOOM_PROBE_MAX:
                continue
            bloom = self._entry_blooms(entry).get(col)
            if bloom and _bloom_excludes(bloom, vals):
                return False
        return True

    def snapshot_where(
        self,
        spark: SparkSession,
        predicates: Sequence[tuple] | None = None,
        version: int | None = None,
        any_of: Sequence[Sequence[tuple]] | None = None,
    ) -> DataFrame:
        """Predicate-pruned snapshot read: equal to
        ``snapshot(spark, version).filter(...)`` but the manifest's
        file list is pruned BEFORE the scan is constructed, so the plan
        never opens (or even lists) a file whose partition value,
        key-range stats, or bloom filter proves it cold. On a table
        kept clustered by its query keys (``compact(cluster_by=…)`` /
        zorder), a narrow predicate touches O(matching) files instead
        of O(table) — the Delta/Iceberg data-skipping read, and exactly
        the shape of the reference's daily incremental window read
        (kicc_to_tb_sales_prod.py:63-70: a BETWEEN on the sortable date
        key). The residual predicate is still applied to the surviving
        rows (pruning is file-granular), built from the SAME spec via
        ``predicate_column`` so plan and prune cannot disagree.

        ``version`` makes the pruned read time-travel-aware: pruning
        consults the manifest of the REQUESTED version (file stats and
        blooms are immutable per file, so historical pruning is exactly
        as sound as latest-version pruning).

        ``any_of`` (mutually exclusive with ``predicates``) takes a
        list of conjunctive specs OR-ed together — disjunctive normal
        form: each disjunct prunes the file list independently, a file
        is scanned when ANY disjunct might match it, and the residual
        filter is the OR of the disjuncts' predicates. The multi-window
        read shape (this week OR the same week last year) without
        falling back to a full scan."""
        if (predicates is None) == (any_of is None):
            raise ValueError("pass exactly one of predicates / any_of")
        if version is None:
            version = self.latest_version()
            if version is None:
                raise FileNotFoundError(f"no committed version at {self.path}")
        # the RAW manifest (schema/partition_by always inline) — file
        # resolution is the planner's call: sidecar-backed versions
        # plan distributed without ever materializing the entry list
        raw = self._read_raw_manifest(version)
        schema = self._manifest_schema(raw)
        specs = [list(predicates)] if predicates is not None else [list(s) for s in any_of]
        if not specs:
            raise ValueError("any_of needs at least one disjunct")
        cols = [predicate_column(s) for s in specs]  # validates up front
        pred = cols[0]
        for c in cols[1:]:
            pred = pred | c
        # transform-partition pruning and timestamp stat probes both
        # mirror Spark-side semantics in Python, which is exact only
        # under the engine's pinned UTC sessions — other zones keep
        # date/int/string stats, bloom, and raw-partition pruning and
        # simply skip the timezone-sensitive reasoning
        utc = _session_utc(spark)
        kept = self._plan_read_entries(spark, version, raw, specs, schema, utc)
        if not kept:
            return spark.createDataFrame([], schema or raw["schema"])
        df = self._read_files(spark, kept, raw)
        if schema is not None:
            df = _align(df, schema, raw.get("column_map"))
        return df.filter(pred)

    def count_where(
        self,
        spark: SparkSession,
        predicates: Sequence[tuple] | None = None,
        version: int | None = None,
        any_of: Sequence[Sequence[tuple]] | None = None,
    ) -> int:
        """Exact count of the rows matching a predicate spec, with the
        interior of the match counted from METADATA: after the same
        file pruning ``snapshot_where`` plans, every kept file whose
        footer stats / partition constants PROVE all rows match
        (``_entry_all_match`` — ranges require a recorded zero null
        count) contributes its live row count without being opened;
        only the boundary files — the ones that may contain both
        matching and non-matching rows — are scanned, in one job, with
        the same residual predicate. On a table clustered by the query
        key, a window count touches O(window boundary) data instead of
        O(window): the at-scale form of the reference's windowed COUNT
        guards (kicc_to_tb_sales_prod.py pre-load checks).

        Deletion vectors stay exact on both paths: an all-match file
        contributes ``rows - dv_rows`` (every surviving row still
        matches), and boundary scans apply DVs like any snapshot read.
        ``last_count_plan`` records the split for tests/inspection."""
        if (predicates is None) == (any_of is None):
            raise ValueError("pass exactly one of predicates / any_of")
        if version is None:
            version = self.latest_version()
            if version is None:
                raise FileNotFoundError(f"no committed version at {self.path}")
        raw = self._read_raw_manifest(version)
        schema = self._manifest_schema(raw)
        specs = (
            [list(predicates)] if predicates is not None else [list(s) for s in any_of]
        )
        if not specs:
            raise ValueError("any_of needs at least one disjunct")
        cols = [predicate_column(s) for s in specs]  # validates up front
        pred = cols[0]
        for c in cols[1:]:
            pred = pred | c
        utc = _session_utc(spark)
        kept = self._plan_read_entries(spark, version, raw, specs, schema, utc)
        cmap = raw.get("column_map") or {}
        part_types = {
            cmap.get(f.name, f.name): f.dataType.simpleString()
            for f in (schema.fields if schema else [])
        }
        tmap = _prune_tmap(raw.get("partition_by"), raw.get("partition_specs"), utc)
        norm = [
            [(cmap.get(col, col), op, v) for col, op, v in _normalize_predicates(s)]
            for s in specs
        ]
        full_rows = 0
        full_files = 0
        partial: list[dict] = []
        for e in kept:
            # a file all-matches the DNF when ONE disjunct provably
            # holds for every row (then every row satisfies the OR)
            if any(_entry_all_match(e, sp, part_types, tmap, utc) for sp in norm):
                full_rows += (e.get("rows") or 0) - _dv_count(e)
                full_files += 1
            else:
                partial.append(e)
        total = full_rows
        if partial:
            df = self._read_files(spark, partial, raw)
            if schema is not None:
                df = _align(df, schema, cmap)
            total += df.filter(pred).count()
        self.last_count_plan = {
            "version": version,
            "pruned_candidates": len(kept),
            "metadata_files": full_files,
            "metadata_rows": full_rows,
            "scanned_files": len(partial),
        }
        return total

    def _plan_read_entries(
        self,
        spark: SparkSession,
        version: int,
        raw: dict,
        specs: list[list[tuple]],
        schema: StructType | None,
        utc: bool,
    ) -> list[dict]:
        """The file entries a DNF spec might touch, planned at the
        right tier for the snapshot's size:

        - **driver** (< ``_SPARK_PRUNE_MIN_FILES``): the in-memory
          per-entry loop — a Spark job's scheduling latency would
          dominate at this size;
        - **distributed**: entries already driver-resident (inline
          manifest or resolved cache) ship once via Arrow and the
          stats matcher runs as a mapInPandas job;
        - **distributed-lazy**: the version resolves from a parquet
          checkpoint sidecar — planning SCANS the sidecar (the file
          entries are already a columnar metadata table; the driver
          never materializes the list), with the delta chain on top
          applied as a broadcast skip-set (replaced/removed paths drop
          executor-side) plus an O(chain) driver pass over the
          replacement entries themselves.

        All tiers end with the same driver-side per-disjunct pass over
        the O(matching) stats survivors, which layers bloom-sidecar
        probes on top — so every tier returns the identical kept set,
        and ``last_planning`` records which tier ran."""
        partition_by = raw.get("partition_by")
        cmap = raw.get("column_map") or {}
        part_types = {
            cmap.get(f.name, f.name): f.dataType.simpleString()
            for f in (schema.fields if schema else [])
        }
        tmap = _prune_tmap(partition_by, raw.get("partition_specs"), utc)
        # specs arrive in LOGICAL names; stats/partition/bloom keys are
        # PHYSICAL — translate once here
        norm = [
            [(cmap.get(col, col), op, v) for col, op, v in _normalize_predicates(s)]
            for s in specs
        ]

        def stats_match(e: dict) -> bool:
            return not _fully_dead(e) and any(
                _entry_matches_stats(e, sp, part_types, tmap, utc) for sp in norm
            )

        mode = "driver"
        candidates: int | None = None
        # tier choice: PREFER the sidecar-backed lazy tier whenever the
        # version resolves from a parquet checkpoint big enough to
        # distribute — even when a resolved list is already cached:
        # the scan plans entirely off the driver, while re-shipping a
        # cached 10^6-entry list via Arrow on every read would dwarf
        # it. The chain walk costs ≤ _CHECKPOINT_INTERVAL small JSON
        # reads.
        node, removes, upserts = self._sidecar_plan(raw)
        # the compute engine scans the sidecar directly, so the tier
        # needs an engine-readable address (store.uri — a path or an
        # object-store URI); a store without one (the in-memory test
        # double) falls to driver-side resolution, which is sound,
        # just not the scale path
        ref_uri = (
            self.store.uri(os.path.join(_MANIFEST_DIR, node["files_ref"]))
            if node is not None
            else None
        )
        if (
            node is not None
            and ref_uri is not None
            and node.get("n_files", 0) >= _SPARK_PRUNE_MIN_FILES
        ):
            mode = "distributed-lazy"
            candidates = node["n_files"]
            # the chain's composite patch: a path removed or replaced
            # anywhere in it is skipped executor-side; the replacement
            # entries (latest content wins) re-plan driver-side
            source = spark.read.parquet(ref_uri)
            entries = _spark_filter_entries(
                source, stats_match, skip_paths=removes | set(upserts)
            )
            entries.extend(e for e in upserts.values() if stats_match(e))
        else:
            entries = self._files_cache.get(version)
            if entries is None and "files" in raw:
                entries = raw["files"]
            if entries is None:
                entries = self._read_manifest(version)["files"]
            candidates = len(entries)
            if candidates >= _SPARK_PRUNE_MIN_FILES:
                mode = "distributed"
                entries = _spark_filter_entries(_entries_df(spark, entries), stats_match)
        # bloom layer: per-disjunct driver pass over the stats
        # survivors (identical semantics at every tier — the stats
        # tests are deterministic per entry, so re-running them over
        # survivors is a no-op plus the bloom probes)
        keep_paths: set[str] = set()
        for s in specs:
            kept_s, _ = self._prune_by_key_stats(
                entries, s, schema, partition_by=partition_by, utc=utc,
                column_map=cmap, partition_specs=raw.get("partition_specs"),
            )
            keep_paths.update(e["path"] for e in kept_s)
        kept = [e for e in entries if e["path"] in keep_paths]
        self.last_planning = {
            "mode": mode,
            "version": version,
            "candidates": candidates,
            "stats_survivors": len(entries),
            "kept": len(kept),
        }
        return kept

    def _sidecar_plan(self, raw: dict) -> tuple[dict | None, set, dict]:
        """Walk ``raw``'s delta chain to its files/files_ref base.

        Returns ``(checkpoint, removes, upserts)``: the sidecar-backed
        checkpoint manifest when one anchors the chain (None when the
        base stores inline files — then callers resolve normally), and
        the chain's COMPOSITE patch — a path removed or replaced by
        any delta lands in ``removes``/``upserts`` with latest content
        winning (a removed-then-re-added path survives via upserts).
        ≤ _CHECKPOINT_INTERVAL small JSON reads; never materializes a
        file list."""
        node, chain = raw, []
        while "files" not in node and "files_ref" not in node:
            chain.append(node)
            node = self._read_raw_manifest(node["base_version"])
        if "files_ref" not in node:
            return None, set(), {}
        removes: set[str] = set()
        upserts: dict[str, dict] = {}
        for d in reversed(chain):  # oldest delta first
            delta = d["delta"]
            for p in delta["removes"]:
                removes.add(p)
                upserts.pop(p, None)
            for e in delta["upserts"]:
                upserts[e["path"]] = e
        return node, removes, upserts

    def _split_candidates(
        self,
        spark: SparkSession,
        entries: list[dict],
        match_fn: Callable[[dict], bool],
        op: str,
    ) -> tuple[list[dict], list[dict]]:
        """Split ``entries`` into (possibly-matching, provably-cold)
        under a PURE per-entry matcher — the write-path planning
        primitive (MERGE partition/range prune, DELETE candidates).
        Past ``_SPARK_PRUNE_MIN_FILES`` the matcher runs as a
        distributed job (same shape as ``_plan_read_entries``); below
        it, the driver loop. Both tiers return identical splits in
        manifest order."""
        if len(entries) >= _SPARK_PRUNE_MIN_FILES:
            mode = "distributed"
            surv = {
                e["path"]
                for e in _spark_filter_entries(_entries_df(spark, entries), match_fn)
            }
            kept = [e for e in entries if e["path"] in surv]
            cold = [e for e in entries if e["path"] not in surv]
        else:
            mode = "driver"
            kept, cold = [], []
            for e in entries:
                (kept if match_fn(e) else cold).append(e)
        self.last_planning = {
            "mode": mode,
            "op": op,
            "candidates": len(entries),
            "kept": len(kept),
        }
        return kept, cold

    def _split_by_values(
        self,
        spark: SparkSession,
        entries: list[dict],
        values_by_col: dict[str, list],
        types: dict[str, str],
        utc: bool,
        op: str,
        column_map: dict[str, str] | None = None,
    ) -> tuple[list[dict], list[dict]]:
        """(may-contain, provably-cold) under a values probe — the
        MERGE/DELETE point-prune. The stats half (pure) distributes
        past the threshold; bloom sidecar probes stay a driver pass
        over the O(matching) stats survivors. ``values_by_col`` and
        ``types`` arrive in LOGICAL names; stats and bloom keys are
        PHYSICAL — translated here."""
        if column_map:
            values_by_col = {
                column_map.get(c, c): v for c, v in values_by_col.items()
            }
            types = {column_map.get(c, c): t for c, t in types.items()}
        # zone-bind datetime probes on the DRIVER (see _bind_naive):
        # the stats half of this split may run in executor processes
        # whose TZ differs
        values_by_col = {
            c: [_bind_naive(x) for x in vals] for c, vals in values_by_col.items()
        }
        kept, cold = self._split_candidates(
            spark,
            entries,
            lambda e: _entry_stats_may_contain(e, values_by_col, types, utc),
            op,
        )
        still: list[dict] = []
        for e in kept:
            if self._entry_may_contain(e, values_by_col, types=types, utc=utc):
                still.append(e)
            else:
                cold.append(e)
        return still, cold

    @staticmethod
    def _schema_types(man: dict) -> dict[str, str]:
        """Column → simpleString type map from a manifest's committed
        schema ({} for pre-evolution manifests) — what the stats
        probes need to refuse unit-mismatched temporal comparisons."""
        schema = ManifestTable._manifest_schema(man)
        if schema is None:
            return {}
        return {f.name: f.dataType.simpleString() for f in schema.fields}

    @staticmethod
    def _manifest_schema(man: dict) -> StructType | None:
        """Committed schema (None for pre-evolution manifests that only
        recorded the simpleString form)."""
        if "fields" in man:
            return StructType.fromJson(man["fields"])
        return None

    def _read_files(
        self,
        spark: SparkSession,
        entries: list[dict],
        man: dict,
        with_file_path: bool = False,
        with_row_index: bool = False,
    ) -> DataFrame:
        """Read manifest entries under ``man``'s committed schema; hive
        partition columns restored and deletion vectors applied. The
        frame keeps PHYSICAL column names; ``_align`` presents the
        logical view.

        Files are grouped by their write batch (the uuid directory each
        commit landed under) because partition discovery needs a
        basePath whose every child segment is ``key=value`` — the batch
        dir is that root. One scan per batch, unioned; Catalyst still
        prunes columns/filters into every scan.

        Each scan's schema comes from the manifest, never the files
        (``_read_schema``), so building a scan opens no footer and
        launches no Spark job. Hive partition values come back as raw
        strings — '19980101' must not become an int, and '000003' read
        as 3 would lose its leading zeros — and ``_align`` casts them
        to the committed type, the string-in-the-log / cast-on-read
        contract Delta uses. Only a manifest without ``fields``
        (written before the engine recorded them) still infers each
        batch's schema from its footers, with partition type inference
        switched off while the reader is built.

        Entries carrying deletion vectors (merge-on-read DELETE) have
        those physical row positions removed via an anti-join on
        (manifest-relative path, row_index) — the path computed
        executor-side from ``_metadata.file_path`` by ``_rel_path_col``,
        partition directories included, so a basename shared across
        partition dirs (Spark reuses one task's part-name in every
        partition it writes) can never apply one file's DV to a
        sibling. Inline ``dv`` lists are driver-built (bounded by
        ``_DV_INLINE_MAX`` per file) and broadcast; spilled positions
        stream from ``dv_ref`` parquet sidecars without ever visiting
        the driver, and the join strategy is left to Catalyst/AQE.
        Entries whose every row is deleted are skipped outright —
        a fully-dead file neither scans nor blocks stats pruning.

        ``with_file_path`` exposes the source file as ``__file``;
        ``with_row_index`` exposes the physical position as ``__idx``
        (the hidden ``_metadata`` column must be selected per scan,
        before the union erases the file-source relation).
        """
        live = [e for e in entries if not _fully_dead(e)]
        if live:
            # all-dead falls through with the full list: the DV
            # anti-join still yields the correct (empty) result and
            # the scan keeps its schema
            entries = live
        # shallow-cloned entries carry the SOURCE's absolute data dir
        # as "base"; grouping keys on (root, batch) so a clone-local
        # batch and a foreign batch with a colliding uuid never share
        # a scan or a basePath
        by_batch: dict[tuple[str, str], list[str]] = {}
        hive: dict[tuple[str, str], dict[str, None]] = {}
        for e in entries:
            first = e["path"].split("/", 1)[0]
            # engine-written files live under a per-commit uuid batch
            # dir; CONVERTED tables adopt files in place, where the
            # first segment may already be a hive ``key=value`` dir
            # (or the file itself, unpartitioned) — then the table
            # root IS the basePath, or discovery would lose that key
            batch = first if "/" in e["path"] and "=" not in first else ""
            key = (e.get("base") or self.data_dir, batch)
            by_batch.setdefault(key, []).append(os.path.join(key[0], e["path"]))
            hive.setdefault(key, {}).update(dict.fromkeys(_partition_values(e["path"])))
        batches = sorted(by_batch)

        def scan(reader, key: tuple[str, str]) -> DataFrame:
            return reader.option("basePath", os.path.join(*key)).parquet(
                *[_hadoop_glob_escape(f) for f in by_batch[key]]
            )

        schema = self._manifest_schema(man)
        if schema is not None:
            read_schemas = [
                _read_schema(schema, man.get("column_map"), list(hive[k]))
                for k in batches
            ]
            dfs = [scan(spark.read.schema(rs), k) for rs, k in zip(read_schemas, batches)]
            dtypes = [[(f.name, f.dataType.simpleString()) for f in rs] for rs in read_schemas]
        else:
            # inference runs eagerly inside spark.read.parquet(), so the
            # conf is scoped to reader construction and restored after —
            # unrelated reads in the same session keep their own setting
            inference_key = "spark.sql.sources.partitionColumnTypeInference.enabled"
            prev = spark.conf.get(inference_key, None)
            spark.conf.set(inference_key, "false")
            try:
                dfs = [scan(spark.read, k) for k in batches]
            finally:
                if prev is None:
                    spark.conf.unset(inference_key)
                else:
                    spark.conf.set(inference_key, prev)
            dtypes = [df.dtypes for df in dfs]
        has_dv = any(e.get("dv") or e.get("dv_ref") for e in entries)
        need_file = with_file_path or has_dv
        need_idx = with_row_index or has_dv
        meta = []
        if need_file:
            meta.append(F.col("_metadata.file_path").alias("__file"))
        if need_idx:
            meta.append(F.col("_metadata.row_index").alias("__idx"))
        if meta:
            dfs = [df.select("*", *meta) for df in dfs]
        if len(dfs) > 1:
            # partition-spec evolution can leave the SAME column raw-
            # hive-partitioned in one batch (restored as a directory
            # string) and physically stored in another (its real
            # type). Cast the dir-string side to the physical type
            # before the union — the same string-in-the-log /
            # cast-on-read contract snapshot() applies, just per batch
            # so unionByName never sees a type conflict.
            seen: dict[str, set[str]] = {}
            for dt in dtypes:
                for n, t in dt:
                    seen.setdefault(n, set()).add(t)
            # CONTRACT: a column's dtypes across batches may differ in
            # exactly two sanctioned ways — hive-dir restoration (the
            # raw-partitioned side is always string) and, for inferred
            # scans, TYPE WIDENING (alter_schema(widen=...): old
            # batches keep the narrow physical type). Both resolve to
            # the WIDEST stored type on the lossless lattice
            # (_is_widening); anything else is real drift — fail
            # loudly instead of dying in unionByName.
            def _widest(ts: set[str]) -> str | None:
                cand = [t for t in ts if t != "string"]
                for w in cand:
                    if all(t == w or _is_widening(t, w) for t in cand):
                        return w
                return None

            fix: dict[str, str] = {}
            bad: dict[str, set[str]] = {}
            for n, ts in seen.items():
                if len(ts) == 1:
                    continue
                w = _widest(ts)
                if w is None:
                    bad[n] = ts
                else:
                    fix[n] = w
            if bad:
                raise AssertionError(
                    f"_read_files: irreconcilable dtypes for one column "
                    f"across batches {bad} — neither dir-string restoration "
                    "nor a lossless widening explains the divergence"
                )
            if fix:
                casts = [
                    {n: F.col(n).cast(fix[n]) for n, t in dt if fix.get(n, t) != t}
                    for dt in dtypes
                ]
                dfs = [df.withColumns(c) if c else df for df, c in zip(dfs, casts)]
        out = dfs[0]
        for df in dfs[1:]:
            out = out.unionByName(df, allowMissingColumns=True)
        if has_dv:
            dv_schema = "__dv_path string, __dv_pos bigint"
            inline_rows = [
                (e["path"], int(i)) for e in entries for i in (e.get("dv") or [])
            ]
            # inline DVs are small by contract — broadcast them; sidecar
            # DVs can be millions of rows, so they stream executor-to-
            # executor and Catalyst/AQE picks the join strategy
            parts = []
            if inline_rows:
                parts.append(spark.createDataFrame(inline_rows, dv_schema))
            refs = sorted({r for e in entries for r in (e.get("dv_ref") or [])})
            if refs:
                side = spark.read.schema("path string, pos bigint").parquet(
                    *[os.path.join(self.path, r) for r in refs]
                )
                parts.append(
                    side.select(
                        F.col("path").alias("__dv_path"), F.col("pos").alias("__dv_pos")
                    )
                )
            dv = parts[0]
            for p in parts[1:]:
                dv = dv.unionByName(p)
            if not refs:
                dv = F.broadcast(dv)
            out = out.join(
                dv,
                (_rel_path_col(self.data_dir) == F.col("__dv_path"))
                & (F.col("__idx") == F.col("__dv_pos")),
                "left_anti",
            )
        if need_file and not with_file_path:
            out = out.drop("__file")
        if need_idx and not with_row_index:
            out = out.drop("__idx")
        return out

    # -- commit protocol ----------------------------------------------

    def _fused_write_route(
        self,
        df: DataFrame,
        partition_by: Sequence[str] | None,
        cons: dict[str, str],
        column_map: dict[str, str] | None = None,
    ) -> dict | None:
        """Eligibility check for the fused single-pass guarded write
        (see ``_write_data_files``); returns the route's parameters,
        or None → take the native route. All checks are driver-side
        metadata work:

        - the frame's schema must be Arrow-convertible (the fused
          route moves batches through Arrow);
        - the partition spec must sit inside the task-side derivation
          envelope (``manifest_source.partition_envelope`` — the same
          plan-time gate the DSv2 writer enforces);
        - every CHECK predicate must be inside the vetted
          cross-dialect subset (``duckdb_dialect_safe`` — task-side
          DuckDB must never enforce different semantics than Spark
          would; r10 ADVICE) AND must resolve against the LOGICAL view
          of the written frame, dry-run on a zero-row Arrow table (a
          predicate over a schema-evolved column the frame omits
          validates Spark-side on the aligned frame instead)."""
        from pyspark.sql.pandas.types import to_arrow_schema

        cmap = dict(column_map or {})
        try:
            arrow_schema = to_arrow_schema(df.schema)
        except Exception:
            return None  # non-Arrow type in the frame: native route
        int_sources: dict[str, bool] = {}
        if partition_by:
            from etl_job_spark.sources.manifest_source import partition_envelope

            types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
            try:
                int_sources = partition_envelope(
                    partition_by, types, _session_utc(df.sparkSession)
                )
            except ValueError:
                return None  # outside the derivation envelope
        if cons:
            inv = {p: l for l, p in cmap.items()}
            logical_cols = [inv.get(c, c) for c in df.columns]
            if not all(
                duckdb_dialect_safe(p, columns=logical_cols)
                for p in cons.values()
            ):
                return None
            import duckdb
            import pyarrow as pa

            logical = pa.schema(
                [
                    arrow_schema.field(i).with_name(
                        inv.get(arrow_schema.field(i).name, arrow_schema.field(i).name)
                    )
                    for i in range(len(arrow_schema))
                ]
            )
            empty = pa.table(
                {f.name: pa.array([], type=f.type) for f in logical}
            )
            con = duckdb.connect()
            try:
                con.register("__batch", empty)
                for pred in cons.values():
                    try:
                        con.execute(
                            f"SELECT count(*) FROM __batch "
                            f"WHERE NOT ({pred}) OR ({pred}) IS NULL"
                        )
                    except Exception:
                        return None  # doesn't resolve: native route
            finally:
                con.close()
        return {"int_sources": int_sources, "column_map": cmap}

    def _write_data_files_fused(
        self,
        df: DataFrame,
        partition_by: Sequence[str] | None,
        bloom_cols: list[str],
        cons: dict[str, str],
        route: dict,
    ) -> list[dict]:
        """The fused single-pass guarded write (see
        ``_write_data_files``): one ``mapInArrow`` job running the
        DSv2 writer's task body — validate each batch, write, stats +
        blooms on the just-closed (page-cache-warm) file, task-side
        bloom sidecars — and ship back one bounded JSON row per file.
        A task-side constraint violation aborts the job; staged files
        and sidecars are removed and the error resurfaces as the
        library's ``ConstraintViolationError``."""
        import re
        import shutil

        sub = uuid.uuid4().hex
        cmap = route["column_map"]
        if cons and cmap:
            # tasks validate LOGICAL batches, then rename to physical
            # for the files — hand them the logical view + the map
            inv = {p: l for l, p in cmap.items()}
            frame = df.select(
                *[F.col(c).alias(inv.get(c, c)) for c in df.columns]
            )
            task_cmap = cmap
        else:
            frame = df
            task_cmap = {}
        sidecar_dir = (
            os.path.join(_BLOOM_DIR, uuid.uuid4().hex) if bloom_cols else None
        )
        path = self.path
        pb = list(partition_by or [])
        int_sources = dict(route["int_sources"])
        cons_d = dict(cons)
        bc = list(bloom_cols)

        def _task(batches):
            import json as _json

            import pyarrow as _pa

            from etl_job_spark.sources.manifest_source import write_task_files

            files = write_task_files(
                path, sub, pb, int_sources, cons_d, bc, task_cmap, batches,
                bloom_sidecar_dir=sidecar_dir,
            )
            if files:
                yield _pa.record_batch(
                    [_pa.array([_json.dumps(f) for f in files], _pa.string())],
                    names=["entry"],
                )

        try:
            rows = frame.mapInArrow(_task, "entry string").collect()
        except Exception as exc:
            shutil.rmtree(os.path.join(self.data_dir, sub), ignore_errors=True)
            if sidecar_dir:
                shutil.rmtree(
                    os.path.join(self.path, sidecar_dir), ignore_errors=True
                )
            # a task-side CHECK violation crosses the JVM boundary as a
            # wrapped PythonException — resurface the library error
            hits = re.findall(
                r"rejected by CHECK constraints: ([^\n]*)", str(exc)
            )
            if hits:
                bad = {
                    m.group(1): int(m.group(2))
                    for m in re.finditer(r"(\w+) \((\d+) rows\)", hits[0])
                }
                if bad:
                    raise ConstraintViolationError(self.path, bad) from exc
            raise
        entries = []
        for r in rows:
            d = json.loads(r["entry"])
            if not d["rows"]:
                try:  # defensive: tasks only create files on data
                    os.remove(os.path.join(self.data_dir, d["rel"]))
                except OSError:
                    pass
                continue
            entry = {
                "path": d["rel"],
                "partition": d.get("partition") or {},
                "rows": d["rows"],
                "stats": d["stats"],
            }
            if d.get("bloom_ref"):
                entry["bloom_ref"] = d["bloom_ref"]
            entries.append(entry)
        entries.sort(key=lambda e: e["path"])
        return entries

    def _write_data_files(
        self,
        df: DataFrame,
        partition_by: Sequence[str] | None,
        bloom_cols: Sequence[str] | None = None,
        constraints: Mapping[str, str] | None = None,
        validate_frame: DataFrame | None = None,
        column_map: Mapping[str, str] | None = None,
    ) -> list[dict]:
        """Land ``df`` (PHYSICAL column names) as new immutable files;
        return manifest entries.

        When ``constraints`` is given, CHECK enforcement happens
        INSIDE this call: on the fused route below, task-side per
        Arrow batch; on the native route, one Spark aggregation over
        ``validate_frame`` (default: the logical view of ``df``)
        before anything lands. Callers must not validate separately.

        GUARDED writes (constraints and/or blooms) take the FUSED
        single-pass route when eligible: one ``mapInArrow`` job whose
        tasks validate each batch (DuckDB, zero-copy), write the
        parquet, and compute footer stats + per-file blooms right
        after each file closes — the DSv2 writer's shape
        (``manifest_source.write_task_files``), shared code. This
        replaces the old three-pass guarded shape (Spark validation
        agg + native write + post-write bloom re-read; r10 VERDICT
        #4). Eligibility (``_fused_write_route``): every predicate
        inside the vetted cross-dialect subset AND resolving against
        the written frame, and the partition spec inside the task-side
        derivation envelope; anything else falls back to the native
        route below — never a refusal, the library owns the general
        case.

        Native route: Spark's parquet writer (whole-stage codegen —
        the fastest path for unguarded writes, which always take it).
        Stats collection is footer-only (no data pages) and O(new
        files per commit), never O(table). Commits of at most
        ``_DRIVER_STATS_MAX_FILES`` files read footers on the driver
        (a handful of ~8 KB reads beats a Spark job); larger commits
        compute footers ON THE EXECUTORS via ``_distributed_file_stats``
        — the Delta shape (stats collected by the write tasks), so a
        100k-file commit ships one bounded result row per file to the
        driver instead of stampeding it with 100k object-store reads."""
        cons = dict(constraints or {})
        if cons or bloom_cols:
            fused = self._fused_write_route(
                df, partition_by, cons, column_map=column_map
            )
            if fused is not None:
                self.last_write_route = "fused"
                return self._write_data_files_fused(
                    df, partition_by, list(bloom_cols or []), cons, fused
                )
        self.last_write_route = "native"
        if not cons:
            return self._write_data_files_native(df, partition_by, bloom_cols)
        # native route with constraints: one aggregation pass first
        # (the pre-r11 shape); rows land only if every check holds
        if validate_frame is not None:
            self._validate(validate_frame, cons)
            return self._write_data_files_native(df, partition_by, bloom_cols)
        # the validation agg and the file write are two actions on the
        # same plan — persist so an expensive upstream computes once
        df = df.persist()
        try:
            self._validate(df, cons)
            return self._write_data_files_native(df, partition_by, bloom_cols)
        finally:
            df.unpersist()

    def _write_data_files_native(
        self,
        df: DataFrame,
        partition_by: Sequence[str] | None,
        bloom_cols: Sequence[str] | None = None,
    ) -> list[dict]:
        """The native-writer route of ``_write_data_files`` (whole-stage
        codegen parquet write; post-write footer stats and bloom
        sidecars, driver- or executor-tiered by commit size)."""
        sub = uuid.uuid4().hex
        out_dir = os.path.join(self.data_dir, sub)
        if partition_by:
            # hidden partitioning: derive transform values here — the
            # ONE write funnel — so every write shape (overwrite,
            # append, merge rewrite, delete rewrite, compaction)
            # partitions identically. partitionBy removes the derived
            # column from the file contents; the source column stays
            # in the files with its footer stats intact. Validation
            # (and the lazy writer build) happen BEFORE the conf swap
            # below, so a raised ValueError can't leak the setting.
            fields = _partition_fields(partition_by)
            for f in fields:
                if f.kind != "raw":
                    if f.dirname in df.columns:
                        raise ValueError(
                            f"partition transform {f.spec!r} derives column "
                            f"{f.dirname!r}, which the frame already has"
                        )
                    df = df.withColumn(f.dirname, f.column(df))
            writer = df.write.mode("error").partitionBy(*[f.dirname for f in fields])
        else:
            writer = df.write.mode("error")
        # write timestamps as INT64 TIMESTAMP_MICROS, scoped to this
        # write: Spark's legacy INT96 default produces footers whose
        # timestamp stats pyarrow cannot extract, so ts columns would
        # silently never participate in stats pruning (and the driver
        # calls with a BARE session — this must be set here, not in
        # session.py)
        ts_key = "spark.sql.parquet.outputTimestampType"
        spark = df.sparkSession
        prev_ts = spark.conf.get(ts_key, None)
        spark.conf.set(ts_key, "TIMESTAMP_MICROS")
        try:
            writer.parquet(out_dir)
        finally:
            if prev_ts is None:
                spark.conf.unset(ts_key)
            else:
                spark.conf.set(ts_key, prev_ts)
        paths = []
        for root, _dirs, names in os.walk(out_dir):
            for name in names:
                if name.endswith(".parquet"):
                    paths.append(os.path.join(root, name))
        if not paths:
            return []
        if len(paths) <= _DRIVER_STATS_MAX_FILES:
            all_stats = dict(zip(paths, (_file_stats(p) for p in paths)))
        else:
            all_stats = _distributed_file_stats(df.sparkSession, paths)
        bloom_refs: dict[str, str] = {}
        if bloom_cols:
            bloom_refs = self._write_bloom_sidecars(df.sparkSession, paths, bloom_cols)
        entries = []
        for full in paths:
            rows, stats = all_stats[full]
            if rows == 0:
                # Spark lands a schema-only part file for empty frames
                # (and empty partitions of near-empty ones); recording
                # it would add a scan entry every reader pays forever.
                # The manifest carries the schema, so the version reads
                # back fine with no files at all.
                os.remove(full)
                continue
            rel = os.path.relpath(full, self.data_dir)
            entry = {
                "path": rel,
                "partition": _partition_values(rel),
                "rows": rows,
                "stats": stats,
            }
            if rel in bloom_refs:
                entry["bloom_ref"] = bloom_refs[rel]
            entries.append(entry)
        entries.sort(key=lambda e: e["path"])
        return entries

    def _write_bloom_sidecars(
        self, spark: SparkSession, paths: list[str], bloom_cols: Sequence[str]
    ) -> dict[str, str]:
        """Build per-file blooms for ``bloom_cols`` and land them as
        ``_bloom/<commit>/<part>.json`` sidecars; returns
        rel-data-path → sidecar ref for the manifest entries.

        Small commits build on the driver (one columnar read per file
        of just the indexed columns); bigger commits run ONE
        Arrow-batched job where each task builds the blooms for its
        slice of files AND writes its own sidecar part, shipping back
        only (path, ref) rows — the driver never holds bloom bytes for
        a 100k-file commit, same contract as ``_distributed_file_stats``.
        """
        commit_dir = os.path.join(_BLOOM_DIR, uuid.uuid4().hex)
        abs_dir = os.path.join(self.path, commit_dir)
        data_dir = self.data_dir
        cols = list(bloom_cols)
        # the driver tier is gated by BYTES as well as file count: a
        # bloom build reads the indexed columns' pages (not just 8 KB
        # footers like the stats path), so 32 × 50 MB files is a
        # distributed job's worth of reads even at a small file count
        # — measured 30 s driver-serial vs ~5 s task-side at sf1.0
        # (BENCH_SF2.json["guarded_writes_sf1_0"])
        try:
            total_bytes = sum(os.path.getsize(p) for p in paths)
        except OSError:
            total_bytes = None  # unknown -> fall through on count alone
        if len(paths) <= _DRIVER_STATS_MAX_FILES and (
            total_bytes is None or total_bytes <= _DRIVER_BLOOM_MAX_BYTES
        ):
            blooms = {
                os.path.relpath(p, data_dir): fb
                for p in paths
                if (fb := _file_blooms(p, cols))
            }
            if not blooms:
                return {}
            os.makedirs(abs_dir, exist_ok=True)
            ref = os.path.join(commit_dir, uuid.uuid4().hex + ".json")
            with open(os.path.join(self.path, ref), "w") as f:
                json.dump(blooms, f)
            return dict.fromkeys(blooms, ref)

        table_path = self.path
        src = spark.createDataFrame([(p,) for p in paths], "path string").repartition(
            min(len(paths), 64)
        )

        def _bloom_batches(batches):
            import json as _json
            import os as _os
            import uuid as _uuid

            import pandas as _pd

            from etl_job_spark.table import _file_blooms as _fb

            for b in batches:
                blooms = {}
                for p in b["path"]:
                    fb = _fb(p, cols)
                    if fb:
                        blooms[_os.path.relpath(p, data_dir)] = fb
                recs = []
                if blooms:
                    _os.makedirs(_os.path.join(table_path, commit_dir), exist_ok=True)
                    ref = _os.path.join(commit_dir, _uuid.uuid4().hex + ".json")
                    with open(_os.path.join(table_path, ref), "w") as f:
                        _json.dump(blooms, f)
                    recs = [(rel, ref) for rel in blooms]
                yield _pd.DataFrame(recs, columns=["rel", "ref"])

        got = src.mapInPandas(_bloom_batches, "rel string, ref string").collect()
        return {r["rel"]: r["ref"] for r in got}

    def _publish(self, version: int, manifest: dict) -> None:
        """Atomically publish ``manifest`` as ``version`` (fails if taken)."""
        if self._capture is not None:
            self._capture(version, manifest)
            return
        try:
            # put-if-absent — THE commit point, delegated to the store
            # (link(2) locally; If-None-Match conditional put on S3)
            self.store.write_if_absent(
                os.path.join(_MANIFEST_DIR, _manifest_name(version)),
                json.dumps(manifest, indent=1, sort_keys=True).encode(),
            )
        except StoreConflict:
            raise CommitConflictError(
                f"concurrent commit: version {version} of {self.path} was "
                "claimed by another writer; re-read the latest snapshot and retry"
            ) from None

    def _commit(
        self,
        entries: list[dict],
        schema: StructType,
        partition_by: Sequence[str] | None,
        expected_base: int | None,
        operation: dict | None = None,
        bloom_cols: Sequence[str] | None = None,
        stream_txn: tuple[str, int] | None = None,
        constraints: dict[str, str] | None = None,
        dropped_cols: Sequence[str] | None = None,
        column_map: dict[str, str] | None = None,
        partition_specs: Sequence[Sequence[str]] | None = None,
        copy_ledger: dict | None = None,
        properties: dict[str, str] | None = None,
        defaults: dict | None = None,
    ) -> int:
        # table properties carry forward across every commit unless the
        # caller overrides them: bloom_cols (None = keep, [] = clear)
        # and the streaming-transaction ledger (app id -> last applied
        # batch id — the Delta txnAppId/txnVersion idempotency shape;
        # losing it on a compact/overwrite would let a restarted stream
        # double-apply a replayed micro-batch)
        stream_txns: dict[str, int] = {}
        operation = dict(operation or {})
        base_man: dict | None = None
        if expected_base is not None:
            base_man = self._read_manifest(expected_base)
            need_w = int((base_man.get("protocol") or {}).get("writer", 1))
            if need_w > _WRITER_PROTOCOL:
                raise RuntimeError(
                    f"{self.path} requires manifest writer protocol "
                    f"{need_w} (this engine writes up to {_WRITER_PROTOCOL}) "
                    "— a newer engine owns this table's features; writing "
                    "with an older one could silently drop state"
                )
            if bloom_cols is None:
                bloom_cols = base_man.get("bloom_cols")
            if constraints is None:
                constraints = base_man.get("constraints")
            if dropped_cols is None:
                dropped_cols = base_man.get("dropped_cols")
            if column_map is None:
                column_map = base_man.get("column_map")
            if partition_specs is None:
                partition_specs = base_man.get("partition_specs")
            if copy_ledger is None:
                # the COPY INTO loaded-files ledger is a table property
                # like the streaming-txn ledger: losing it on an
                # unrelated commit would re-load every landed file
                copy_ledger = base_man.get("copy_ledger")
            if properties is None:
                # user TBLPROPERTIES (owner, retention tags, …): carry
                # like every other table property; {} clears
                properties = base_man.get("properties")
            if defaults is None:
                # column DEFAULT literals (write-time fill for columns
                # an INSERT/append omits): carry like constraints
                defaults = base_man.get("defaults")
            stream_txns = dict(base_man.get("stream_txns") or {})
        if stream_txn is not None:
            stream_txns[stream_txn[0]] = int(stream_txn[1])
        # Delta's operationMetrics shape: every commit records what it
        # physically did — pure entry-list arithmetic, no file reads.
        # Computed only when the CALLER didn't (a verb may record
        # richer numbers of its own); live_rows_delta is what makes
        # DV-growth (merge-on-read DELETE) commits legible, where file
        # counts don't move.
        if "metrics" not in operation:
            prev_entries = (base_man or {}).get("files") or []
            prev_paths = {e["path"] for e in prev_entries}
            cur_paths = {e["path"] for e in entries}
            added = [e for e in entries if e["path"] not in prev_paths]
            prev_live = sum(
                (e.get("rows") or 0) - _dv_count(e) for e in prev_entries
            )
            cur_live = sum((e.get("rows") or 0) - _dv_count(e) for e in entries)
            operation["metrics"] = {
                "files_added": len(added),
                "files_removed": len(prev_paths - cur_paths),
                "rows_added": sum(e.get("rows") or 0 for e in added),
                "live_rows_delta": cur_live - prev_live,
            }
        version = (0 if expected_base is None else expected_base) + 1
        manifest = {
            "version": version,
            "base_version": expected_base,
            # commit-time rollups so metadata queries (row_count,
            # history) answer from ONE raw manifest read — no file-list
            # resolution, O(1) per version instead of O(table files)
            "n_files": len(entries),
            "live_rows": sum(
                (e.get("rows") or 0) - _dv_count(e) for e in entries
            ),
            # UTC wall time of the commit attempt — the key for
            # timestamp time travel (snapshot_as_of). Informational
            # like Delta's commit timestamps: version order is the
            # truth; ties/clock-skew resolve to the higher version.
            "committed_at": datetime.datetime.now(datetime.timezone.utc).isoformat(),
            "schema": schema.simpleString(),
            "fields": schema.jsonValue(),
            "partition_by": list(partition_by or []),
            "operation": operation,
            # minimum protocol a reader/writer needs for THIS commit's
            # features (all current features fit protocol 1; a future
            # incompatible feature bumps the stamp and old engines
            # refuse loudly instead of misreading)
            "protocol": {"reader": _READER_PROTOCOL, "writer": _WRITER_PROTOCOL},
        }
        if bloom_cols:
            # a table property: carried forward by every subsequent
            # commit so all future files keep getting indexed
            manifest["bloom_cols"] = list(bloom_cols)
        if stream_txns:
            manifest["stream_txns"] = stream_txns
        if copy_ledger:
            manifest["copy_ledger"] = copy_ledger
        if properties:
            manifest["properties"] = dict(properties)
        if defaults:
            manifest["defaults"] = dict(defaults)
        if constraints:
            manifest["constraints"] = dict(constraints)
        if dropped_cols:
            # tombstones: PHYSICAL names a later append/merge may NOT
            # reintroduce (old files still hold the physical bytes —
            # re-adding the name would resurrect their values on
            # read). Cleared by overwrite, which replaces every file.
            manifest["dropped_cols"] = sorted(set(dropped_cols))
        if column_map:
            # logical → physical column names (rename support): files
            # always store the PHYSICAL name; a rename edits only this
            # map. Cleared by overwrite (fresh files adopt the logical
            # names as physical).
            manifest["column_map"] = dict(column_map)
        if partition_specs:
            # prior partition_by lists (oldest first) — the spec
            # HISTORY alter_partition_spec leaves behind so historical
            # file layouts keep pruning (_prune_tmap) and the merge
            # planner knows a legacy entry can't be proven untouched
            # by the current spec. Cleared by overwrite (every file
            # rewritten under the current spec).
            manifest["partition_specs"] = [list(s) for s in partition_specs]
        if expected_base is None or version % _CHECKPOINT_INTERVAL == 0:
            # checkpoint: self-contained full file list. Big lists take
            # the parquet-sidecar form (Delta's parquet checkpoint) —
            # one columnar read to open, a scannable metadata TABLE for
            # distributed read planning. Captured commits (transaction
            # catalog) stay inline: the manifest content itself travels
            # through the txn log and must be self-describing.
            if self._capture is None and len(entries) >= _FILES_PARQUET_MIN:
                manifest["files_ref"] = self._write_files_parquet(entries)
            else:
                manifest["files"] = entries
        else:
            # delta against the base — a carried-by-reference commit
            # (append, MERGE on a narrow window, DV-only delete) writes
            # O(changed files), not O(table files); every Nth version
            # checkpoints so resolution stays O(interval).
            # base_man was already resolved above for property carry.
            base_by_path = {e["path"]: e for e in base_man["files"]}
            new_paths = {e["path"] for e in entries}
            manifest["delta"] = {
                "upserts": [e for e in entries if base_by_path.get(e["path"]) != e],
                "removes": sorted(p for p in base_by_path if p not in new_paths),
            }
        self._publish(version, manifest)
        self._files_cache[version] = entries
        return version

    @staticmethod
    def _clause_assigned_columns(
        source_cols: Sequence[str],
        order_col: str | None,
        when_matched_update,
        insert_cols,
        insert_unmatched: bool,
        when_matched_delete,
        clauses,
    ) -> set[str]:
        """The source columns a clause merge ASSIGNS somewhere — the
        set eligible to extend the schema under ``schema_evolution``
        (Delta's rule: SET */INSERT * and explicit assignment targets
        evolve; columns the statement never writes do not). Merge
        metadata (``order_col``, a CDC flag named by
        ``when_matched_delete``) never evolves in."""
        assigned: set[str] = set()
        whole_row = False
        if when_matched_update:
            assigned |= set(when_matched_update)  # list or dict keys
        if insert_cols:
            assigned |= set(insert_cols)
        if clauses is None:
            # flat clause mode's whole-row insert (insert_unmatched
            # with no column list) is INSERT *
            whole_row = insert_unmatched and insert_cols is None
        else:
            for cl in clauses:
                kind = cl[0]
                if kind == "update":
                    assigned |= set(cl[2])
                elif kind == "insert":
                    if cl[2] is None:
                        whole_row = True
                    else:
                        assigned |= set(cl[2])
                # by-source clauses see the target row only: they can
                # never carry a source value into a new column
        if whole_row:
            assigned |= set(source_cols)
        assigned.discard(order_col)
        if isinstance(when_matched_delete, str) and when_matched_delete.isidentifier():
            assigned.discard(when_matched_delete)
        return assigned

    def _evolved_schema(self, man: dict, df: DataFrame) -> StructType:
        """Base schema + columns new in ``df`` (add-only evolution).

        Shared columns must keep their type — silent widening would
        invalidate every already-written file, which is exactly the
        class of change a table format must reject.
        """
        base = self._manifest_schema(man)
        if base is None:  # pre-evolution manifest: df's schema is the contract
            return df.schema
        by_name = {f.name: f for f in base.fields}
        dropped = set(man.get("dropped_cols") or [])
        cmap = man.get("column_map") or {}
        # physical names already carrying another logical column's data
        phys_in_use = {cmap.get(f.name, f.name) for f in base.fields}
        for f in df.schema.fields:
            if f.name in dropped:
                raise ValueError(
                    f"column {f.name!r} was DROPPED from this table; re-adding "
                    "the name would resurrect the values still present in old "
                    "data files. overwrite() (which replaces every file) "
                    "clears the tombstone."
                )
            if f.name not in by_name and f.name in phys_in_use:
                raise ValueError(
                    f"cannot add column {f.name!r}: it is the PHYSICAL name of "
                    "a renamed column — old data files still store values "
                    "under it, which the new column would silently resurrect. "
                    "Pick another name, or overwrite() to rewrite every file."
                )
            old = by_name.get(f.name)
            if old is None:
                continue
            if old.dataType != f.dataType:
                if _is_widening(
                    f.dataType.simpleString(), old.dataType.simpleString()
                ):
                    # the frame is NARROWER than the committed (widened)
                    # type: files may store the narrow form — readers
                    # promote it, the same parquet type promotion that
                    # serves every pre-widening file
                    continue
                raise ValueError(
                    f"schema evolution cannot change column {f.name!r}: "
                    f"{old.dataType.simpleString()} -> {f.dataType.simpleString()}"
                    " (a lossless widening goes through alter_schema("
                    "widen={...}) / ALTER TABLE ... ALTER COLUMN ... TYPE)"
                )
        new = [f for f in df.schema.fields if f.name not in by_name]
        return StructType(list(base.fields) + new)

    # -- write operations ---------------------------------------------

    _COMMIT_RETRIES = 3

    def _with_commit_retries(self, attempt: Callable[[], int]) -> int:
        """Optimistic concurrency: run ``attempt`` (whose body re-reads
        the latest version itself), retrying a bounded number of times
        when another writer claims the target version first — the
        Delta-style retry loop: re-read latest, re-prune, re-commit.
        Data files landed by a losing attempt are referenced by no
        manifest and are reclaimed by ``vacuum``."""
        for n in range(self._COMMIT_RETRIES + 1):
            try:
                return attempt()
            except CommitConflictError:
                if n == self._COMMIT_RETRIES:
                    raise
        raise AssertionError("unreachable")

    def _validate(self, df: DataFrame, constraints: dict[str, str] | None) -> None:
        """Enforce CHECK constraints on incoming rows — ONE aggregation
        pass counting violations of every constraint at once (the same
        single-job shape Delta's invariant checker uses). A NULL
        predicate counts as a violation (the row can't PROVE it
        satisfies the check — Delta/ANSI CHECK semantics on write).
        Raises ``ConstraintViolationError`` before anything commits."""
        if not constraints:
            return
        # resolve each predicate against the incoming schema FIRST:
        # an overwrite legitimately replacing the schema can orphan a
        # constraint's column references, and the raw AnalysisException
        # from the validation agg below would not say which constraint
        # or what to do about it
        for name, pred in sorted(constraints.items()):
            try:
                df.select(F.expr(pred))
            except Exception as exc:
                raise ValueError(
                    f"CHECK constraint {name!r} ({pred!r}) does not resolve "
                    f"against the incoming schema "
                    f"({df.schema.simpleString()}): {exc.__class__.__name__}. "
                    "Drop or update the constraint first "
                    "(alter_constraints(drop=[...]))."
                ) from exc
        aggs = [
            F.sum(
                F.when(~F.coalesce(F.expr(pred), F.lit(False)), 1).otherwise(0)
            ).alias(name)
            for name, pred in sorted(constraints.items())
        ]
        row = df.agg(*aggs).collect()[0]
        bad = {name: int(row[name]) for name in constraints if row[name]}
        if bad:
            raise ConstraintViolationError(self.path, bad)

    def alter_constraints(
        self,
        spark: SparkSession,
        add: dict[str, str] | None = None,
        drop: Sequence[str] | None = None,
    ) -> int:
        """Add/remove named CHECK constraints (SQL boolean expressions
        over the table's columns) as a METADATA-ONLY commit — no data
        file is read or written, except that each ADDED constraint is
        first validated against the current snapshot (a constraint the
        existing data already violates would make the table lie).
        Constraints persist in the manifest and every subsequent
        ``overwrite``/``append``/``merge`` validates its incoming rows
        against them before committing — the Delta CHECK-constraint
        shape. Returns the new version.

        Dialect boundary (r10 ADVICE): predicates are Spark SQL — that
        is the semantics the table enforces, always. Writers that
        validate task-side with DuckDB only ever do so for predicates
        inside the vetted cross-dialect subset (``duckdb_dialect_safe``
        — provably identical evaluation); anything richer (casts,
        regexp, date/timezone functions) validates through Spark on
        the library's native route, and the DSv2 writers refuse it at
        plan time rather than risk enforcing different semantics."""

        def attempt() -> int:
            base = self.latest_version()
            if base is None:
                raise FileNotFoundError(f"no committed version at {self.path}")
            man = self._read_manifest(base)
            cons = dict(man.get("constraints") or {})
            for name in drop or []:
                cons.pop(name, None)
            if add:
                self._validate(self.snapshot(spark, base), dict(add))
                cons.update(add)
            schema = self._manifest_schema(man) or self.snapshot(spark, base).schema
            op = {
                "op": "alter_constraints",
                "add": sorted(add or {}),
                "drop": sorted(drop or []),
            }
            return self._commit(
                man["files"], schema, man["partition_by"] or None, base, op,
                # {} (not None) when all dropped: None would re-carry
                constraints=cons if cons else {},
            )

        return self._with_commit_retries(attempt)

    def alter_tblproperties(
        self,
        set: Mapping[str, str] | None = None,
        unset: Sequence[str] | None = None,
        unset_must_exist: bool = True,
    ) -> int:
        """Set/unset USER table properties (owner, retention policy,
        pipeline tags — the free-form key/values every real catalog
        carries per table) as a METADATA-ONLY commit. Values are
        strings, like Delta/Hive TBLPROPERTIES; keys carry forward
        across every subsequent commit and time travel shows each
        version's values (``SHOW TBLPROPERTIES`` reads latest;
        ``DESCRIBE DETAIL`` and the manifest carry them per version).
        Internal properties (constraints, bloom_cols, column_map, …)
        live in their own manifest keys and cannot be shadowed here.
        Returns the new version."""
        sets = {str(k): str(v) for k, v in (set or {}).items()}
        drops = [str(k) for k in (unset or [])]
        if not sets and not drops:
            raise ValueError("alter_tblproperties: nothing to set or unset")
        reserved = {
            "partition_by", "bloom_cols", "constraints", "column_map",
            "dropped_cols", "partition_specs", "defaults", "stream_txns",
            "copy_ledger",
        }
        bad = sorted(reserved & (sets.keys() | {*drops}))
        if bad:
            raise ValueError(
                f"TBLPROPERTIES keys {bad} are reserved for internal table "
                "metadata (SHOW TBLPROPERTIES would report two rows with "
                "one name) — pick namespaced keys, e.g. 'user.partition_by'"
            )

        def attempt() -> int:
            base = self.latest_version()
            if base is None:
                raise FileNotFoundError(f"no committed version at {self.path}")
            man = self._read_manifest(base)
            props = dict(man.get("properties") or {})
            missing = [k for k in drops if k not in props]
            if missing and unset_must_exist:
                raise KeyError(
                    f"UNSET TBLPROPERTIES: {missing} not set (use IF "
                    "EXISTS to ignore)"
                )
            for k in drops:
                props.pop(k, None)
            props.update(sets)
            schema = self._manifest_schema(man)
            if schema is None:
                raise ValueError(
                    "alter_tblproperties needs a schema-carrying manifest "
                    "(pre-evolution table: overwrite it first)"
                )
            op = {
                "op": "alter_tblproperties",
                "set": sorted(sets),
                "unset": sorted(drops),
            }
            return self._commit(
                man["files"], schema, man["partition_by"] or None, base, op,
                # {} (not None) when all removed: None would re-carry
                properties=props if props else {},
            )

        return self._with_commit_retries(attempt)

    def tblproperties(self, version: int | None = None) -> dict[str, str]:
        """The user TBLPROPERTIES of ``version`` (default latest)."""
        v = self.latest_version() if version is None else int(version)
        if v is None:
            raise FileNotFoundError(f"no committed version at {self.path}")
        return dict(self._read_raw_manifest(v).get("properties") or {})

    def alter_column_nullability(
        self, spark: SparkSession, column: str, not_null: bool
    ) -> int:
        """``ALTER COLUMN c SET/DROP NOT NULL`` — implemented as an
        auto-managed CHECK constraint named ``not_null_<col>`` with the
        predicate ``<col> IS NOT NULL``, which rides the ENTIRE
        existing constraint machinery: the current snapshot is
        validated before the metadata-only commit lands (a column with
        existing NULLs refuses — the table must not lie), and every
        subsequent write path enforces it with violation atomicity —
        library fused writes validate per Arrow batch task-side, the
        DSv2 writers likewise (``IS NOT NULL`` is inside the vetted
        ``duckdb_dialect_safe`` subset, so enforcement stays on the
        task-side fast path), and MERGE/UPDATE rewrites validate their
        output. ``SHOW COLUMNS`` reports the column non-nullable while
        the constraint stands. Returns the new version."""
        base = self.latest_version()
        if base is None:
            raise FileNotFoundError(f"no committed version at {self.path}")
        man = self._read_manifest(base)
        schema = self._manifest_schema(man)
        if schema is not None and column not in {f.name for f in schema.fields}:
            raise ValueError(
                f"ALTER COLUMN {column!r}: not a table column "
                f"({[f.name for f in schema.fields]})"
            )
        name = f"not_null_{column}"
        if not_null:
            return self.alter_constraints(
                spark, add={name: f"{column} IS NOT NULL"}
            )
        if name not in (man.get("constraints") or {}):
            raise KeyError(
                f"ALTER COLUMN {column!r} DROP NOT NULL: column is nullable"
            )
        return self.alter_constraints(spark, drop=[name])

    def alter_column_default(
        self, spark: SparkSession, column: str, default
    ) -> int:
        """``ALTER COLUMN c SET DEFAULT <literal>`` / ``DROP DEFAULT``
        (``default=None``) — a METADATA-ONLY commit recording a
        write-time fill value: an ``append`` (and the SQL INSERT forms
        routed to it — positional VALUES and column-list inserts) whose
        frame OMITS the column lands the default instead of NULL.
        Delta's semantics exactly: the default applies to rows written
        AFTER it is set; existing files are untouched and still read
        back whatever they hold (no retroactive rewrite). The literal
        is validated against the column type at alter time (a default
        the type cannot hold refuses here, not silently at some later
        write). Returns the new version."""

        def attempt() -> int:
            base = self.latest_version()
            if base is None:
                raise FileNotFoundError(f"no committed version at {self.path}")
            man = self._read_manifest(base)
            schema = self._manifest_schema(man)
            if schema is None:
                raise ValueError(
                    "alter_column_default needs a schema-carrying manifest"
                )
            fields = {f.name: f for f in schema.fields}
            if column not in fields:
                raise ValueError(
                    f"ALTER COLUMN {column!r}: not a table column "
                    f"({sorted(fields)})"
                )
            defaults = dict(man.get("defaults") or {})
            if default is None:
                if column not in defaults:
                    raise KeyError(
                        f"ALTER COLUMN {column!r} DROP DEFAULT: no default set"
                    )
                defaults.pop(column)
            else:
                try:
                    cast_ok = (
                        spark.range(1)
                        .select(
                            F.lit(default).cast(fields[column].dataType).alias("v")
                        )
                        .first()
                        .v
                    )
                except Exception:
                    cast_ok = None  # ANSI sessions THROW on a bad cast
                if cast_ok is None:
                    raise ValueError(
                        f"DEFAULT {default!r} does not cast to column "
                        f"{column!r}'s type {fields[column].dataType.simpleString()}"
                    )
                defaults[column] = default
            op = {
                "op": "alter_column_default",
                "column": column,
                "set": default is not None,
            }
            return self._commit(
                man["files"], schema, man["partition_by"] or None, base, op,
                defaults=defaults if defaults else {},
            )

        return self._with_commit_retries(attempt)

    def alter_partition_spec(
        self, new_partition_by: Sequence[str] | None
    ) -> int:
        """Change the partition layout for FUTURE writes as a
        METADATA-ONLY commit — no data file is read, rewritten, or
        moved (Iceberg's partition-spec evolution; Delta can only
        spell this as a full ``overwrite(partition_by=…)`` rewrite,
        prohibitive on a 100 TB mart whose query keys drift).

        Existing files keep their old directory layout. Every planner
        already reasons PER FILE from the entry's own partition dict,
        so mixed layouts stay exact everywhere:

        - reads union the layouts (hive restoration is per write
          batch; dir-typed vs stored-typed columns reconcile by the
          cast-on-read contract in ``_read_files``);
        - ``snapshot_where`` keeps pruning BOTH layouts — the current
          spec's dirs directly, historical specs' dirs through the
          recorded spec history (``partition_specs`` → ``_prune_tmap``;
          a dirname two specs define differently is excluded, never
          mis-probed);
        - MERGE treats legacy-layout entries as un-provable-untouched
          (they fall to the key-range/bloom prunes) and its rewrites —
          like DELETE rewrites and ``compact`` — land under the NEW
          spec, migrating the table incrementally as it churns.

        ``new_partition_by`` speaks LOGICAL column names (raw columns
        or the transform forms ``hours/days/months/bucket/truncate``);
        pass ``None``/``[]`` to un-partition future writes. Returns
        the new version (the current one when the spec is unchanged).

        Reference analogue: the mart tables' layout keys are the
        reference's window/scan columns (kicc_to_tb_sales_prod.py:63-70);
        re-keying that layout as data grows is this operation."""

        def attempt() -> int:
            base = self.latest_version()
            if base is None:
                raise FileNotFoundError(f"no committed version at {self.path}")
            man = self._read_manifest(base)
            schema = self._manifest_schema(man)
            if schema is None:
                raise ValueError(
                    "alter_partition_spec needs a schema-carrying manifest "
                    "(pre-evolution table: overwrite it first)"
                )
            cmap = man.get("column_map") or {}
            logical = {f.name for f in schema.fields}
            new_spec: list[str] = []
            for s in new_partition_by or []:
                f = _PartitionField(s)  # validates the transform form
                if f.source not in logical:
                    raise ValueError(
                        f"alter_partition_spec: source column {f.source!r} "
                        "is not a table column"
                    )
                # the spec is stored in the PHYSICAL namespace every
                # write/prune path speaks (rename-safe: files keep
                # physical names forever)
                phys = cmap.get(f.source, f.source)
                if f.kind == "raw":
                    new_spec.append(phys)
                elif f.arg is not None:
                    new_spec.append(f"{f.kind}({f.arg}, {phys})")
                else:
                    new_spec.append(f"{f.kind}({phys})")
            dn = [f.dirname for f in _partition_fields(new_spec)]
            if len(set(dn)) != len(dn):
                raise ValueError(
                    f"alter_partition_spec: duplicate partition dirs {dn}"
                )
            # fail EARLY on a transform dirname that collides with an
            # existing (physical) table column: every subsequent write
            # would raise at _write_data_files' derived-column check,
            # and if the column were later dropped, historical raw
            # dirs of that name would poison the dirname for pruning
            # (_prune_tmap marks it conflicted — sound, but the table
            # loses the layout's whole benefit). Reject at alter time.
            phys_cols = {cmap.get(f.name, f.name) for f in schema.fields}
            for f in _partition_fields(new_spec):
                if f.kind != "raw" and f.dirname in phys_cols:
                    raise ValueError(
                        f"alter_partition_spec: transform {f.spec!r} derives "
                        f"partition dir {f.dirname!r}, which is already a "
                        "table column"
                    )
            cur = list(man["partition_by"] or [])
            if new_spec == cur:
                return base  # no-op: same layout
            history = [list(s) for s in (man.get("partition_specs") or [])]
            if cur:
                history.append(cur)
            op = {"op": "alter_partition_spec", "from": cur, "to": list(new_spec)}
            return self._commit(
                man["files"], schema, new_spec or None, base, op,
                partition_specs=history,
            )

        return self._with_commit_retries(attempt)

    def alter_schema(
        self,
        spark: SparkSession,
        drop: Sequence[str] | None = None,
        add: Mapping[str, str] | None = None,
        widen: Mapping[str, str] | None = None,
    ) -> int:
        """DROP and/or ADD columns as a METADATA-ONLY commit — no data
        file is read or written; every existing file is carried into
        the new manifest by reference.

        ``drop``: the committed schema loses the fields, every reader
        stops projecting them (``_align``), and the names go into a
        tombstone list so a later append/merge cannot reintroduce them
        (the physical bytes are still in the immutable old files —
        re-adding the name would silently resurrect those values;
        ``overwrite`` clears the tombstones because it replaces every
        file). Refuses to drop partition columns / transform sources
        (the layout depends on them) and columns referenced by a CHECK
        constraint (drop the constraint first); bloom indexing on a
        dropped column stops.

        ``add`` (``{name: spark_type_ddl}``, e.g. ``{"score":
        "double"}``): the committed schema GAINS the fields —
        Delta/Iceberg's metadata-only ADD COLUMN. Existing rows read
        as NULL (every scan reads the committed schema, and the parquet
        reader NULL-fills columns a file lacks — the same machinery
        additive append-evolution reads through), so the new
        fields are always nullable; later appends/merges carry real
        values. Refuses names that collide case-insensitively with a
        live column, with a drop TOMBSTONE, or with an in-use PHYSICAL
        name (old files hold bytes under those names — the "new"
        column would resurrect them on read), plus the same reserved
        prefix / parquet-hostile character set ``rename_column``
        refuses. A CHECK constraint can never reference the new name
        yet (constraints resolve against the live schema when added),
        so existing constraints are untouched; add the constraint
        AFTER the column if wanted — and mind the engine's strict
        write-side CHECK contract (``_validate``: a NULL predicate is
        a violation), so a constraint over a sparsely-populated added
        column should spell it ``c IS NULL OR <check>``.

        ``widen`` (``{name: spark_type_ddl}``): metadata-only TYPE
        WIDENING (Delta 4 / Iceberg v3) — the committed type moves up
        a LOSSLESS lattice (tinyint→smallint→int→bigint, float→double,
        decimal(p,s)→decimal(p2,s) with p2>p); every existing file is
        carried by reference and keeps its narrow physical type, which
        readers promote (Spark 4's parquet type promotion on the
        library path; an explicit arrow cast on the Data Source path).
        The metadata stays probe-sound under every prune tier: integer
        stats, blooms (python-int canonicalization), and partition-dir
        spellings are width-independent, float32 stats extend exactly
        to double, and decimal stats are exact strings. Anything off
        the lattice refuses (a narrowing or a cross-family change can
        silently corrupt old files' values — rewrite via
        ``overwrite``); ``float→double`` refuses when the column is a
        partition/transform source in the current spec or its history
        (``str()`` of a float changes spelling with width, so derived
        directory values would stop matching). Appends may keep
        writing the NARROW type after a widening (files store what the
        writer sent; reads promote), so old writers don't break.

        When combined, drops are validated first, then widenings, then
        adds, and everything lands in ONE commit. Returns the new
        version."""
        drop = list(drop or [])
        add = dict(add or {})
        widen = dict(widen or {})
        if not drop and not add and not widen:
            raise ValueError(
                "alter_schema: pass drop=[...], add={...} and/or widen={...}"
            )

        def attempt() -> int:
            base = self.latest_version()
            if base is None:
                raise FileNotFoundError(f"no committed version at {self.path}")
            man = self._read_manifest(base)
            schema = self._manifest_schema(man)
            if schema is None:
                raise ValueError(
                    "alter_schema needs a schema-carrying manifest "
                    "(pre-evolution table: overwrite it first)"
                )
            names = {f.name for f in schema.fields}
            missing = sorted(set(drop) - names)
            if missing:
                raise ValueError(f"cannot drop unknown column(s): {missing}")
            cmap = dict(man.get("column_map") or {})
            part_sources = {
                f.source for f in _partition_fields(man.get("partition_by"))
            }
            clash = sorted(c for c in drop if cmap.get(c, c) in part_sources)
            if clash:
                raise ValueError(
                    f"cannot drop partition column(s)/transform source(s): {clash}"
                )
            import re as _re

            for name, pred in sorted((man.get("constraints") or {}).items()):
                hit = sorted(
                    c for c in drop if _re.search(rf"\b{_re.escape(c)}\b", pred)
                )
                if hit:
                    raise ValueError(
                        f"CHECK constraint {name!r} ({pred!r}) references "
                        f"dropped column(s) {hit}; drop the constraint first"
                    )
            new_fields = [f for f in schema.fields if f.name not in set(drop)]
            if not new_fields:
                raise ValueError("cannot drop every column of the table")
            # tombstones block the PHYSICAL name (that's where the
            # bytes live); bloom_cols are physical already
            drop_phys = {cmap.get(c, c) for c in drop}
            blooms = [c for c in (man.get("bloom_cols") or []) if c not in drop_phys]
            tombstones = sorted(set(man.get("dropped_cols") or []) | drop_phys)
            for c in drop:
                cmap.pop(c, None)
            if widen:
                from pyspark.sql.types import DataType

                by_name = {f.name: i for i, f in enumerate(new_fields)}
                spec_sources = set(part_sources)
                for spec in man.get("partition_specs") or []:
                    spec_sources |= {f.source for f in _partition_fields(spec)}
                for cname, ddl in widen.items():
                    at = by_name.get(cname)
                    if at is None:
                        raise ValueError(
                            f"cannot widen unknown column {cname!r}"
                        )
                    try:
                        dt = DataType.fromDDL(str(ddl))
                    except Exception:
                        raise ValueError(
                            f"cannot parse type {ddl!r} for widened column "
                            f"{cname!r} (expected Spark DDL, e.g. 'bigint')"
                        ) from None
                    old_s = new_fields[at].dataType.simpleString()
                    new_s = dt.simpleString()
                    if not _is_widening(old_s, new_s):
                        raise ValueError(
                            f"cannot change column {cname!r}: {old_s} -> "
                            f"{new_s} is not a lossless widening (supported: "
                            "tinyint->smallint->int->bigint, float->double, "
                            "decimal(p,s)->decimal(p2,s) with p2>p) — other "
                            "changes rewrite every file via overwrite()"
                        )
                    if old_s == "float" and cmap.get(cname, cname) in spec_sources:
                        raise ValueError(
                            f"cannot widen partition/transform source "
                            f"{cname!r} from float: str() of a float changes "
                            "spelling with width, so derived partition "
                            "directory values would stop matching — "
                            "relayout via overwrite(partition_by=...) first"
                        )
                    new_fields[at] = StructField(
                        cname, dt, new_fields[at].nullable
                    )
            if add:
                from pyspark.sql.types import DataType

                # all collision tests casefold: Spark resolves column
                # names case-insensitively, so adding "V" next to "v"
                # would make every reference ambiguous
                live = {f.name.casefold() for f in new_fields}
                phys_in_use = {
                    cmap.get(f.name, f.name).casefold() for f in new_fields
                }
                tomb = {t.casefold() for t in tombstones}
                for cname, ddl in add.items():
                    if cname.startswith("__") or any(
                        ch in cname for ch in " ,;{}()\n\t=.`"
                    ):
                        raise ValueError(
                            f"cannot add column {cname!r}: names starting "
                            "with '__' are reserved for planner metadata "
                            "columns, ' ,;{}()\\n\\t=' are invalid in "
                            "parquet field names, and '.'/'`' break column "
                            "resolution"
                        )
                    lc = cname.casefold()
                    if lc in live:
                        raise ValueError(
                            f"cannot add column {cname!r}: a column of that "
                            "name (case-insensitively) already exists"
                        )
                    if lc in tomb or lc in phys_in_use:
                        raise ValueError(
                            f"cannot add column {cname!r}: old data files "
                            "store bytes under that physical name (a "
                            "dropped column or a renamed column's storage) "
                            "— reads would resurrect them. Pick another "
                            "name, or overwrite() to rewrite every file."
                        )
                    try:
                        dt = DataType.fromDDL(str(ddl))
                    except Exception:
                        raise ValueError(
                            f"cannot parse type {ddl!r} for added column "
                            f"{cname!r} (expected Spark DDL, e.g. 'double', "
                            "'bigint', 'array<string>')"
                        ) from None
                    # always nullable: existing files lack the column,
                    # so every pre-add row reads as NULL (_align)
                    new_fields.append(StructField(cname, dt, True))
                    live.add(lc)
                    phys_in_use.add(lc)
            new_schema = StructType(new_fields)
            op: dict = {"op": "alter_schema"}
            if drop:
                op["drop"] = sorted(set(drop))
            if add:
                op["add"] = {k: str(v) for k, v in add.items()}
            if widen:
                op["widen"] = {k: str(v) for k, v in widen.items()}
            # a dropped column's DEFAULT goes with it (a dangling entry
            # would make every later append's fill crash on a column
            # the schema no longer carries)
            defaults = {
                c: v
                for c, v in (man.get("defaults") or {}).items()
                if c not in set(drop or [])
            }
            return self._commit(
                man["files"], new_schema, man["partition_by"] or None, base, op,
                bloom_cols=blooms, dropped_cols=tombstones, column_map=cmap,
                defaults=defaults,
            )

        return self._with_commit_retries(attempt)

    def clone_to(
        self, dest: "str | ManifestTable", version: int | None = None
    ) -> "ManifestTable":
        """SHALLOW CLONE (Delta's verb): create a NEW table at
        ``dest_path`` whose first commit references this table's data
        files at ``version`` (default: latest) — zero data is read or
        copied, so cloning a 100 TB table is one metadata write. Each
        cloned entry records the source's absolute data dir as its
        ``base``; every read tier (library scans, stats/bloom/partition
        pruning, the Arrow Data Source) resolves paths through it.
        Schema, partitioning, CHECK constraints, bloom indexing, column
        mapping, and drop tombstones all carry over; history does NOT —
        the clone starts at its own version 1 (time travel to
        pre-clone states happens on the source).

        Write semantics after the clone (all copy-on-write, the Delta
        contract): appends land in the clone's OWN data dir;
        merge/update/delete rewrites copy the touched source files'
        live rows into clone-local files; the source is never modified,
        and the two tables diverge from the clone point.

        Honest edges, refused loudly rather than half-supported:

        - a source version carrying live DELETION VECTORS cannot be
          cloned (DV sidecars key positions by the source's relative
          paths; rewrite them first — ``compact_small_files()`` or a
          CoW delete materializes live rows);
        - ``merge_on_read`` deletes on a table holding foreign-based
          entries refuse (same relative-path keying) — use the default
          copy-on-write mode;
        - VACUUM on the SOURCE can reclaim files the clone still
          references (exactly Delta's documented shallow-clone
          hazard): vacuum the source only once the clone is dropped or
          fully rewritten. Vacuum on the CLONE only ever touches the
          clone's own directories.
        """
        src_v = self.latest_version() if version is None else int(version)
        if src_v is None:
            raise FileNotFoundError(f"no committed version at {self.path}")
        man = self._read_manifest(src_v)
        if any(_dv_count(e) for e in man["files"]):
            raise ValueError(
                "cannot shallow-clone a version carrying live deletion "
                "vectors: DV sidecars key row positions by the source's "
                "relative paths, which do not survive re-basing — rewrite "
                "them first (compact_small_files(), or re-run the delete "
                "in copy_on_write mode), then clone"
            )
        schema = self._manifest_schema(man)
        if schema is None:
            raise ValueError(
                "clone_to needs a schema-carrying manifest "
                "(pre-evolution table: overwrite it first)"
            )
        # an existing instance is accepted so callers that must
        # observe the commit on THEIR object (the SQL transaction's
        # captured table, whose _commit is staged, not published) can
        # pass it instead of a path
        dest = dest if isinstance(dest, ManifestTable) else ManifestTable(dest)
        if dest.latest_version() is not None:
            raise ValueError(
                f"clone destination {dest.path!r} already has a committed "
                "version — clone into a fresh path"
            )
        src_data = os.path.abspath(self.data_dir)
        entries = []
        for e in man["files"]:
            e2 = dict(e)
            # a clone of a clone keeps pointing at wherever the bytes
            # actually live; refs re-base the same way
            e2["base"] = e.get("base") or src_data
            if e2.get("bloom_ref") and not os.path.isabs(e2["bloom_ref"]):
                e2["bloom_ref"] = os.path.abspath(
                    os.path.join(self.path, e2["bloom_ref"])
                )
            entries.append(e2)
        dest._commit(
            entries,
            schema,
            man["partition_by"] or None,
            None,
            {"op": "clone", "source": self.path, "source_version": src_v},
            bloom_cols=man.get("bloom_cols"),
            constraints=man.get("constraints"),
            dropped_cols=man.get("dropped_cols"),
            column_map=man.get("column_map"),
            partition_specs=man.get("partition_specs"),
        )
        return dest

    @classmethod
    def convert(
        cls,
        spark: SparkSession,
        source_dir: str,
        partition_by: Sequence[str] | None = None,
        store: CommitStore | None = None,
    ) -> "ManifestTable":
        """CONVERT an existing parquet directory to a manifest table
        IN PLACE — the adoption onramp (Delta's ``CONVERT TO DELTA``,
        Iceberg's ``migrate``): version 1 is built from a directory
        listing, every file carried by reference with footer stats,
        hive ``key=value`` directories becoming partition values under
        a raw spec. ZERO data is read beyond parquet footers or
        rewritten — a user with terabytes of pre-existing
        hive-partitioned parquet (the reference operates on tables its
        scripts never created, kicc_to_tb_sales.py:67) adopts them
        with one metadata commit. The manifest log lands under
        ``<source_dir>/_manifests`` (underscore-prefixed: raw Spark
        reads of the directory ignore it); subsequent writes land in
        the table's own ``data/`` batch dirs and compose with the
        adopted files exactly like shallow-cloned entries do.

        Footer stats use the same driver/distributed tiers as the
        write path (``_distributed_file_stats`` past
        ``_DRIVER_STATS_MAX_FILES``), so pruning works immediately and
        converting a 100k-file directory plans its footer reads on the
        executors.

        Refusals (ambiguity never guessed): a directory that already
        has committed versions; no parquet files at all; files whose
        partition-directory KEYS disagree (a mixed layout has no one
        spec); ``partition_by`` given but not matching the discovered
        keys. Partition values commit as decoded strings and the
        committed schema types them as strings — the engine's
        string-in-the-log / cast-on-read contract; cast downstream (or
        overwrite later) for typed partition columns.
        """
        src = source_dir.rstrip("/")
        t = cls(src, store=store)
        if t.latest_version() is not None:
            raise ValueError(
                f"CONVERT: {src!r} already has committed versions — it is "
                "a manifest table; read it directly"
            )
        paths: list[str] = []
        for root, dirs, names in os.walk(src):
            # _manifests/_blooms/_dv/.tmp artifacts can never be data
            dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
            for name in names:
                if name.endswith(".parquet") and not name.startswith(("_", ".")):
                    paths.append(os.path.join(root, name))
        if not paths:
            raise FileNotFoundError(f"CONVERT: no parquet files under {src!r}")
        paths.sort()
        rels = [os.path.relpath(p, src) for p in paths]
        part_keys: set[tuple[str, ...]] = {
            tuple(_partition_values(rel)) for rel in rels
        }
        if len(part_keys) > 1:
            raise ValueError(
                f"CONVERT: mixed partition layouts under {src!r} "
                f"({sorted(part_keys)}) — one consistent key=value "
                "directory scheme is required; split or repair the "
                "directory first"
            )
        discovered = list(part_keys.pop())
        if partition_by is not None and list(partition_by) != discovered:
            raise ValueError(
                f"CONVERT: PARTITIONED BY {list(partition_by)} does not "
                f"match the discovered layout {discovered}"
            )
        # committed schema = data columns + partition dirs as strings
        # (inference off — the same contract _read_files applies)
        inference_key = "spark.sql.sources.partitionColumnTypeInference.enabled"
        prev = spark.conf.get(inference_key, None)
        spark.conf.set(inference_key, "false")
        try:
            schema = (
                spark.read.option("basePath", src)
                .parquet(*[_hadoop_glob_escape(p) for p in paths])
                .schema
            )
        finally:
            if prev is None:
                spark.conf.unset(inference_key)
            else:
                spark.conf.set(inference_key, prev)
        if len(paths) <= _DRIVER_STATS_MAX_FILES:
            all_stats = {p: _file_stats(p) for p in paths}
        else:
            all_stats = _distributed_file_stats(spark, paths)
        base = os.path.abspath(src)
        entries = []
        for full, rel in zip(paths, rels):
            rows, stats = all_stats[full]
            if rows == 0:
                continue  # schema-only part files: carry nothing
            entries.append(
                {
                    "path": rel,
                    "partition": _partition_values(rel),
                    "rows": rows,
                    "stats": stats,
                    "base": base,
                }
            )
        t._commit(
            entries,
            schema,
            discovered or None,
            None,
            {"op": "convert", "source": src, "files": len(entries)},
        )
        return t

    def rename_column(self, old: str, new: str) -> int:
        """RENAME a column as a METADATA-ONLY commit — no data file is
        read or written (Delta's column-mapping shape): every file,
        past and future, keeps storing the column under its PHYSICAL
        name (the name it had when first written); the manifest's
        ``column_map`` records logical → physical, and every reader
        (``_align``), stats/bloom prune, MERGE key probe, and write
        path resolves through it. Time travel is exact: an old version
        reads under its own manifest's names.

        Refuses: renaming partition columns / transform sources (the
        directory layout carries the physical name and planners would
        need a third namespace — rewrite via ``overwrite`` instead),
        columns referenced by a CHECK constraint (drop it first), and
        a ``new`` name that collides with a live column, an in-use
        physical name, or a drop-tombstone (either would resurrect
        bytes still present in immutable old files). ``overwrite``
        clears the mapping — fresh files adopt the logical names.
        Returns the new version."""

        def attempt() -> int:
            base = self.latest_version()
            if base is None:
                raise FileNotFoundError(f"no committed version at {self.path}")
            man = self._read_manifest(base)
            schema = self._manifest_schema(man)
            if schema is None:
                raise ValueError(
                    "rename_column needs a schema-carrying manifest "
                    "(pre-evolution table: overwrite it first)"
                )
            names = {f.name for f in schema.fields}
            if old not in names:
                raise ValueError(f"cannot rename unknown column {old!r}")
            if new in names:
                raise ValueError(f"cannot rename {old!r} to existing column {new!r}")
            # reserved planner names (__file/__idx/__dv_*) and
            # parquet-hostile characters would break the DELETE
            # detection scan / future writes in confusing ways — refuse
            # loudly at the rename instead
            if new.startswith("__") or any(c in new for c in " ,;{}()\n\t=.`"):
                raise ValueError(
                    f"cannot rename to {new!r}: names starting with '__' are "
                    "reserved for planner metadata columns, ' ,;{}()\\n\\t=' "
                    "are invalid in parquet field names, and '.'/'`' break "
                    "column resolution (F.col parses '.' as struct access)"
                )
            cmap = dict(man.get("column_map") or {})
            phys_in_use = {cmap.get(f.name, f.name) for f in schema.fields}
            if new in (phys_in_use - {cmap.get(old, old)}) or new in set(
                man.get("dropped_cols") or []
            ):
                raise ValueError(
                    f"cannot rename to {new!r}: old data files store bytes "
                    "under that physical name (another column's storage or a "
                    "dropped column) — reads would resurrect them. Pick "
                    "another name, or overwrite() to rewrite every file."
                )
            part_sources = {
                f.source for f in _partition_fields(man.get("partition_by"))
            }
            if cmap.get(old, old) in part_sources:
                raise ValueError(
                    f"cannot rename partition column/transform source {old!r}: "
                    "the directory layout carries its name; rewrite the table "
                    "via overwrite(partition_by=...) to relayout"
                )
            import re as _re

            for cname, cpred in sorted((man.get("constraints") or {}).items()):
                if _re.search(rf"\b{_re.escape(old)}\b", cpred):
                    raise ValueError(
                        f"CHECK constraint {cname!r} ({cpred!r}) references "
                        f"{old!r}; drop the constraint first"
                    )
            phys = cmap.pop(old, old)
            if new != phys:  # renaming BACK to the physical name: no map entry
                cmap[new] = phys
            new_schema = StructType(
                [
                    StructField(new, f.dataType, f.nullable, f.metadata)
                    if f.name == old
                    else f
                    for f in schema.fields
                ]
            )
            op = {"op": "rename_column", "from": old, "to": new}
            # a DEFAULT follows its column's logical name
            defaults = dict(man.get("defaults") or {})
            if old in defaults:
                defaults[new] = defaults.pop(old)
            return self._commit(
                man["files"], new_schema, man["partition_by"] or None, base, op,
                column_map=cmap, defaults=defaults,
            )

        return self._with_commit_retries(attempt)

    def overwrite(
        self,
        df: DataFrame,
        partition_by: Sequence[str] | None = None,
        bloom_cols: Sequence[str] | None = None,
        constraints: dict[str, str] | None = None,
        defaults: dict | None = None,
    ) -> int:
        """Commit a full replacement snapshot; returns the new version.

        A replacement owns its schema outright — evolution rules apply
        to ``append``/``merge``, which must coexist with old files.

        ``bloom_cols`` turns on per-file bloom indexing for the named
        int/string columns — point-lookup file skipping for
        ``delete_keys`` and small-key-set MERGE on keys whose values
        are scattered (where min/max ranges can never prune). The
        property persists in the manifest: every later commit keeps
        indexing its new files; pass ``[]`` to turn it off. ``None``
        keeps the table's current setting.

        ``constraints`` (named CHECK predicates) and ``defaults``
        (column → write-time fill literal) set the replacement's
        column properties IN THE SAME COMMIT — the atomic
        ``CREATE TABLE (col defs)`` shape, where a crash mid-DDL must
        never leave a table missing its declared markers (ADVICE r12).
        ``None`` keeps the current behavior: constraints carry from
        the replaced table, defaults carry for surviving columns.
        Incoming rows validate against explicit constraints exactly as
        carried ones; explicit defaults must name schema columns and
        cast to their types."""

        def attempt() -> int:
            base = self.latest_version()
            part = partition_by
            blooms = bloom_cols
            frame = df
            cons = constraints
            if base is not None:
                man = self._read_manifest(base)
                if part is None:
                    part = man["partition_by"] or None
                if blooms is None:
                    blooms = man.get("bloom_cols")
                if cons is None:
                    cons = man.get("constraints")
            # constraints enforce INSIDE the write (fused task-side
            # single pass when eligible, else one validation agg first)
            entries = self._write_data_files(
                frame, part, bloom_cols=blooms, constraints=cons or None
            )
            new_cols = set(df.columns)
            if defaults is None:
                # DEFAULTs survive only for columns the replacement
                # schema still carries (a dangling default would crash
                # later appends on a column that no longer exists)
                dfl = {
                    c: v
                    for c, v in (
                        (man.get("defaults") or {}) if base is not None else {}
                    ).items()
                    if c in new_cols
                }
            else:
                dfl = dict(defaults)
                fields = {f.name: f for f in df.schema.fields}
                for c, v in dfl.items():
                    if c not in fields:
                        raise ValueError(
                            f"DEFAULT for {c!r}: not a column of the "
                            f"replacement schema ({sorted(fields)})"
                        )
                    if v is not None:
                        try:
                            ok = (
                                df.sparkSession.range(1)
                                .select(
                                    F.lit(v).cast(fields[c].dataType).alias("v")
                                )
                                .first()
                                .v
                            )
                        except Exception:
                            ok = None  # ANSI sessions THROW on a bad cast
                        if ok is None:
                            raise ValueError(
                                f"DEFAULT {v!r} does not cast to column "
                                f"{c!r}'s type "
                                f"{fields[c].dataType.simpleString()}"
                            )
            return self._commit(
                entries, df.schema, part, base, {"op": "overwrite"},
                bloom_cols=blooms,
                constraints=cons if cons else {},
                # a replacement owns its schema outright — every old file
                # is gone, so drop-tombstones cannot resurrect anything,
                # the fresh files store logical names as physical, and
                # no historical partition layout survives to prune for
                dropped_cols=[],
                column_map={},
                partition_specs=[],
                defaults=dfl,
            )

        return self._with_commit_retries(attempt)

    def overwrite_where(
        self,
        spark: SparkSession,
        df: DataFrame,
        predicate: str | Column | Sequence[tuple],
    ) -> int:
        """Predicate-scoped overwrite — Delta's ``replaceWhere``: in
        ONE commit, every existing row matching ``predicate`` is
        replaced by ``df`` (the recompute-one-partition shape — the
        reference's daily re-load is exactly this with a date
        predicate). Files provably free of matching rows carry by
        reference; partially-matching files rewrite without their
        matching rows; ``df`` lands as new files. Readers see the old
        state or the new state, never a mix.

        Planning matches ``update_where``: a PREDICATE-SPEC tuple form
        (``snapshot_where``'s shape) prunes provably-cold files from
        partition values, stats, and blooms WITHOUT opening them, and
        files whose metadata PROVES every row matches (the canonical
        whole-partition replace) become rewrite targets with no
        discovery scan at all — "recompute yesterday" on a 100 TB
        date-partitioned mart opens O(yesterday) files. A plain
        str/Column predicate finds hit files with one pushed-predicate
        scan instead.

        Every row of ``df`` must itself satisfy ``predicate`` — a
        frame smuggling out-of-scope rows refuses loudly (Delta
        enforces the same): ``replace WHERE dy = '0201'`` must not
        slip 02-02 rows past the scope. CHECK constraints validate the
        incoming frame inside the write; the schema never evolves
        (the scope predicate must resolve against the existing schema
        — use ``append`` for additive evolution). Returns the new
        version."""
        spec: list[tuple] | None = None
        if isinstance(predicate, (list, tuple)):
            spec = _normalize_predicates(predicate)
            pred = predicate_column(spec)
        else:
            pred = F.expr(predicate) if isinstance(predicate, str) else predicate

        def attempt() -> int:
            base = self.latest_version()
            if base is None:
                raise FileNotFoundError(f"no committed version at {self.path}")
            man = self._read_manifest(base)
            schema = self._manifest_schema(man)
            cmap = man.get("column_map") or {}
            inv = {p: l for l, p in cmap.items()}
            partition_by_ = man["partition_by"]
            incoming = _align(df, schema, None) if schema is not None else df
            bad = incoming.filter(~F.coalesce(pred, F.lit(False))).limit(1).count()
            if bad:
                raise ValueError(
                    "overwrite_where: the replacement frame carries rows "
                    "OUTSIDE the predicate's scope — every incoming row "
                    "must satisfy it (Delta's replaceWhere rule; widen the "
                    "predicate or filter the frame)"
                )
            candidates = man["files"]
            untouched: list[dict] = []
            touched: list[dict] = []
            if spec is not None:
                # spec-form planning (update_where's shape): metadata
                # prune, then the all-match short-circuit — a file the
                # metadata PROVES fully in scope is a rewrite target
                # with no scan (whole-partition replaces plan from
                # metadata alone)
                candidates, untouched = self._prune_by_key_stats(
                    candidates, spec, schema,
                    partition_by=partition_by_, utc=_session_utc(spark),
                    column_map=cmap, partition_specs=man.get("partition_specs"),
                )
                utc = _session_utc(spark)
                tmap = _prune_tmap(partition_by_, man.get("partition_specs"), utc)
                part_types = {
                    cmap.get(f.name, f.name): f.dataType.simpleString()
                    for f in schema.fields
                }
                phys_spec = [(cmap.get(c, c), op, v) for c, op, v in spec]
                proved, candidates = self._split_candidates(
                    spark,
                    candidates,
                    lambda e: not (e.get("dv") or e.get("dv_ref"))
                    and _entry_all_match(e, phys_spec, part_types, tmap, utc),
                    "replace-allmatch",
                )
                # proved files are REPLACED WHOLE: every row matches,
                # so they are simply dropped — never read, never in
                # the kept-rows rewrite below
            if candidates:
                # discovery: which remaining files hold a matching row
                # (same pushed-predicate scan shape as the CoW DELETE)
                scan = _renamed(
                    self._read_files(spark, candidates, man, with_file_path=True),
                    inv,
                )
                hit_files = {
                    _strip_file_scheme(r["__file"])
                    for r in scan.filter(pred).select("__file").distinct().collect()
                }
                for entry in candidates:
                    full = os.path.abspath(
                        os.path.join(
                            entry.get("base") or self.data_dir, entry["path"]
                        )
                    )
                    (touched if full in hit_files else untouched).append(entry)
            partition_by = man["partition_by"]
            blooms = man.get("bloom_cols")
            new_entries: list[dict] = []
            if touched:
                kept = _renamed(self._read_files(spark, touched, man), inv).filter(
                    ~F.coalesce(pred, F.lit(False))
                )
                if schema is not None:
                    kept = _align(kept, schema)
                new_entries += self._write_data_files(
                    _renamed(kept, cmap), partition_by or None,
                    bloom_cols=blooms,
                )
            constraints = man.get("constraints")
            new_entries += self._write_data_files(
                _renamed(incoming, cmap), partition_by or None,
                bloom_cols=blooms, constraints=constraints,
                validate_frame=incoming if constraints else None,
                column_map=cmap,
            )
            op = {
                "op": "overwrite_where",
                "predicate": predicate
                if isinstance(predicate, str)
                else (str(spec) if spec is not None else str(pred)),
            }
            return self._commit(
                untouched + new_entries, schema or incoming.schema,
                partition_by or None, base, op, bloom_cols=blooms,
            )

        return self._with_commit_retries(attempt)

    def append(self, df: DataFrame) -> int:
        """Commit base's files + new files (no read of existing data).

        ``df`` may carry columns the table has never seen (additive
        schema evolution): old files stay as written and read back NULL
        for the new columns; it may also omit evolved columns, which
        null-fill the other way. Type changes are rejected."""

        def attempt() -> int:
            base = self.latest_version()
            if base is None:
                entries = self._write_data_files(df, None)
                return self._commit(entries, df.schema, None, None, {"op": "append"})
            man = self._read_manifest(base)
            schema = self._evolved_schema(man, df)
            partition_by = man["partition_by"]
            blooms = man.get("bloom_cols")
            constraints = man.get("constraints")
            # column DEFAULTs: a column the frame omits lands its
            # recorded default instead of NULL — write-time fill only
            # (Delta's semantics: never retroactive; old files keep
            # reading back what they hold)
            ftypes = {f.name: f.dataType for f in schema.fields}
            fill = {
                c: v
                for c, v in (man.get("defaults") or {}).items()
                # c in ftypes is belt-and-braces: every default-mutating
                # verb prunes/re-keys the map, so a dangling entry
                # should not exist — but filling an unknown column
                # would crash the append, the worse failure
                if c not in df.columns and c in ftypes
            }
            frame = df
            if fill:
                frame = frame.select(
                    "*",
                    *[
                        F.lit(v).cast(ftypes[c]).alias(c)
                        for c, v in sorted(fill.items())
                    ],
                )
            # validation happens inside the write — task-side fused
            # when eligible; the fallback validates the schema-ALIGNED
            # frame (null-filled evolved columns), what readers will
            # see for these rows
            new_entries = self._write_data_files(
                _renamed(frame, man.get("column_map")),
                partition_by or None,
                bloom_cols=blooms,
                constraints=constraints,
                validate_frame=_align(frame, schema) if constraints else None,
                column_map=man.get("column_map"),
            )
            entries = man["files"] + new_entries
            return self._commit(
                entries, schema, partition_by or None, base, {"op": "append"},
                bloom_cols=blooms,
            )

        return self._with_commit_retries(attempt)

    def copy_into(
        self,
        spark: SparkSession,
        source: str,
        file_format: str = "parquet",
        pattern: str | None = None,
        options: Mapping[str, str] | None = None,
        force: bool = False,
    ) -> int:
        """Idempotent bulk file ingest — Delta's ``COPY INTO`` verb,
        the exactly-once version of the reference's staging load
        (load_sales_data.py re-reads whatever the producer dropped;
        this skips what already landed):

        1. list the files under ``source`` (recursive; ``pattern``
           defaults per format, e.g. ``*.parquet``);
        2. skip every file the table has ALREADY LOADED — a per-file
           ledger (absolute path → [size, mtime]) rides the manifest
           and is carried forward by every commit, like the
           streaming-txn ledger;
        3. read the rest (csv/json enforce the table's committed
           schema; parquet is self-describing and follows append's
           additive-evolution rules) and APPEND them in ONE commit
           that also records the new ledger entries.

        Because data and ledger land in one atomic commit, a crash at
        any point makes the re-run safe: either the commit published
        (files are in the ledger, re-run skips them) or it didn't
        (nothing published, re-run loads them once). Re-running
        against an unchanged directory is a metadata no-op returning
        the current version.

        An already-loaded file whose size/mtime CHANGED refuses loudly
        (landing files must be immutable — a silent reload would
        double-count the unchanged rows); ``force=True`` reloads every
        matched file regardless of the ledger (Delta's ``COPY INTO …
        FORCE``), appending duplicates by design.

        Scale note: the ledger grows with the landing directory's
        lifetime file count (~100 bytes/file — 1M landed files ≈ a
        100 MB manifest entry). Rotate landing directories (the
        reference's daily dirs are exactly this) rather than pointing
        one table at an unbounded directory forever.
        """
        import glob as globmod

        fmt = file_format.lower()
        default_pat = {"parquet": "*.parquet", "csv": "*.csv", "json": "*.json"}
        if fmt not in default_pat:
            raise ValueError(
                f"COPY INTO supports parquet/csv/json, got {file_format!r}"
            )
        pat = pattern or default_pat[fmt]

        def attempt() -> int:
            base = self.latest_version()
            man = self._read_manifest(base) if base is not None else None
            ledger = dict((man or {}).get("copy_ledger") or {})
            # escape the DIRECTORY half only: metacharacters in the
            # landing path ('batch[1]/') are literal; ``pat`` is the
            # user's glob and keeps its meaning
            found = sorted(
                f
                for f in globmod.glob(
                    os.path.join(globmod.escape(source), "**", pat), recursive=True
                )
                if os.path.isfile(f)
            )
            if not found and base is None:
                raise FileNotFoundError(
                    f"COPY INTO: no {pat!r} files under {source!r} and no "
                    "committed table to no-op against"
                )
            new: list[str] = []
            changed: list[str] = []
            sigs: dict[str, list[int]] = {}
            for f in found:
                ap = os.path.abspath(f)
                st = os.stat(ap)
                # nanosecond mtime: a same-size in-place rewrite within
                # one second must still read as CHANGED (ADVICE r11)
                sigs[ap] = [st.st_size, st.st_mtime_ns]
                prev = ledger.get(ap)
                if prev is None or force:
                    new.append(ap)
                elif prev != sigs[ap] and prev != [st.st_size, int(st.st_mtime)]:
                    # second compare: ledgers written before the ns
                    # signature recorded whole seconds — still valid
                    changed.append(ap)
            if changed and not force:
                raise ValueError(
                    f"COPY INTO: {len(changed)} already-loaded file(s) "
                    f"changed in place (e.g. {changed[0]!r}); landing files "
                    "must be immutable — fix the producer, or force=True to "
                    "reload everything (appending duplicates)"
                )
            if not new:
                return base  # nothing new landed: metadata no-op
            schema = self._manifest_schema(man) if man else None
            reader = spark.read
            if fmt != "parquet":
                if schema is None:
                    raise ValueError(
                        "COPY INTO csv/json needs the table's committed "
                        "schema to parse against — create the table first "
                        "(overwrite/CTAS), then COPY INTO it"
                    )
                reader = reader.schema(schema)
            for k, v in (options or {}).items():
                reader = reader.option(k, v)
            # Spark's reader glob-interprets each path (Hadoop glob);
            # backslash-escape metacharacters so a landing dir like
            # 'batch[1]' reads literally instead of PATH_NOT_FOUND
            df = reader.format(fmt).load([_hadoop_glob_escape(p) for p in new])
            for ap in new:
                ledger[ap] = sigs[ap]
            op = {"op": "copy_into", "source": source, "files": len(new)}
            if base is None:
                entries = self._write_data_files(df, None)
                return self._commit(
                    entries, df.schema, None, None, op, copy_ledger=ledger
                )
            evolved = self._evolved_schema(man, df)
            partition_by = man["partition_by"]
            blooms = man.get("bloom_cols")
            constraints = man.get("constraints")
            new_entries = self._write_data_files(
                _renamed(df, man.get("column_map")),
                partition_by or None,
                bloom_cols=blooms,
                constraints=constraints,
                validate_frame=_align(df, evolved) if constraints else None,
                column_map=man.get("column_map"),
            )
            return self._commit(
                man["files"] + new_entries, evolved, partition_by or None,
                base, op, bloom_cols=blooms, copy_ledger=ledger,
            )

        return self._with_commit_retries(attempt)

    def _merge_prune(
        self,
        spark: SparkSession,
        man: dict,
        schema,
        source: DataFrame,
        keys: Sequence[str],
        nmbs_active: bool,
    ) -> tuple[list[dict], list[dict], list[dict]]:
        """MERGE's file-prune planning — three tiers over the
        manifest's entries, shared verbatim by the merge write path
        and ``EXPLAIN MERGE`` (r14: the explain reports the SAME split
        the verb would run). Returns ``(touched, untouched, tiers)``
        where ``tiers`` records each tier's candidates→kept split.

        1. PARTITION: the source's distinct partition values (raw or
           transform-derived — hidden partitioning) prove whole
           partitions untouched. Manifests store decoded logical
           values (None for NULL); the source's render the same way so
           NULL and escaped characters compare correctly. A
           LEGACY-layout entry (written before an alter_partition_spec
           — its partition dict lacks some current dirname) can never
           be PROVEN untouched by a partition-value test: it stays a
           candidate and falls through to the per-file tiers; a
           rewrite migrates it to the current layout as a side effect.
        2. KEY-RANGE: the source's per-key min/max (one scalar
           aggregate) becomes a BETWEEN spec judged by the same
           per-entry matcher every read plans with — footer stats AND
           raw partition constants AND spec-history transform dirs.
           Files with no usable facts are never pruned (unknown =
           possibly touched).
        3. BLOOM: when the source's distinct values on an indexed key
           fit the probe budget (the GDPR/correction shape), files
           whose bloom excludes every value are carried by reference —
           the prune that works where ranges can't (hash-scattered
           keys make every file's min/max span the domain).

        WHEN NOT MATCHED BY SOURCE (``nmbs_active``) makes every file
        a rewrite candidate (any file may hold an unmatched row):
        carrying one by reference could silently keep rows the clause
        must delete — all pruning is disabled (merge docstring)."""
        partition_by = man["partition_by"]
        untouched: list[dict] = []
        touched: list[dict] = man["files"]
        tiers: list[dict] = []
        # rename support: keys/source speak LOGICAL names; entry
        # stats, partition dirs, blooms, and data files PHYSICAL
        cmap = man.get("column_map") or {}
        src_phys = _renamed(source, cmap)
        part_fields = _partition_fields(partition_by)
        if (
            partition_by
            and not nmbs_active
            and all(f.source in src_phys.columns for f in part_fields)
        ):
            dirnames = [f.dirname for f in part_fields]
            touched_parts = {
                tuple(None if r[d] is None else str(r[d]) for d in dirnames)
                for r in src_phys.select(
                    *[f.column(src_phys).alias(f.dirname) for f in part_fields]
                ).distinct().collect()
            }
            touched, untouched = self._split_candidates(
                spark,
                man["files"],
                lambda e: any(d not in e["partition"] for d in dirnames)
                or tuple(e["partition"].get(d) for d in dirnames)
                in touched_parts,
                "merge-partition",
            )
            tiers.append(dict(self.last_planning or {}))

        phys_keys = [cmap.get(k, k) for k in keys]
        if touched and phys_keys and not nmbs_active:
            bounds = _source_key_bounds(src_phys, phys_keys)
            if bounds:
                spec = _normalize_predicates(
                    [(k, "between", b) for k, b in bounds.items()]
                )
                part_types = {
                    cmap.get(f.name, f.name): f.dataType.simpleString()
                    for f in schema.fields
                }
                utc = _session_utc(spark)
                tmap = _prune_tmap(
                    partition_by, man.get("partition_specs"), utc
                )
                touched, cold = self._split_candidates(
                    spark,
                    touched,
                    lambda e: _entry_matches_stats(
                        e, spec, part_types, tmap, utc
                    ),
                    "merge-range",
                )
                tiers.append(dict(self.last_planning or {}))
                untouched.extend(cold)

        bloom_keys = [
            k for k in keys if cmap.get(k, k) in (man.get("bloom_cols") or [])
        ]
        if touched and bloom_keys and not nmbs_active:
            probe: dict[str, list] = {}
            for k in bloom_keys:
                vals = [
                    r[0]
                    for r in source.select(k)
                    .distinct()
                    .limit(_BLOOM_PROBE_MAX + 1)
                    .collect()
                ]
                if len(vals) <= _BLOOM_PROBE_MAX:
                    probe[k] = vals
            if probe:
                types = {
                    f.name: f.dataType.simpleString() for f in schema.fields
                }
                utc = _session_utc(spark)
                touched, cold = self._split_by_values(
                    spark, touched, probe, types, utc, "merge-bloom",
                    column_map=man.get("column_map"),
                )
                tiers.append(dict(self.last_planning or {}))
                untouched.extend(cold)
        return touched, untouched, tiers

    def merge(
        self,
        spark: SparkSession,
        source: DataFrame,
        keys: Sequence[str],
        order_col: str | None = None,
        txn: tuple[str, int] | None = None,
        when_matched_update: Sequence[str] | Mapping[str, str] | None = None,
        when_matched_delete: str | Column | None = None,
        insert_unmatched: bool = True,
        not_matched_by_source_delete: str | Column | bool = False,
        not_matched_by_source_update: Mapping[str, str] | None = None,
        not_matched_by_source_update_pred: str | Column | None = None,
        insert_cols: Sequence[str] | None = None,
        when_matched_update_pred: str | None = None,
        when_not_matched_insert_pred: str | None = None,
        when_matched_delete_scope: str = "source",
        clauses: Sequence[tuple] | None = None,
        schema_evolution: bool = False,
    ) -> int:
        """MERGE ``source`` into the table (source wins per key).

        Matched clauses (Delta's MERGE surface, semantics in
        ``operators.merge.merge_clauses``):

        - ``when_matched_update=[cols]`` — matched rows take the
          source's values for exactly those columns (UPDATE SET
          subset); the source can be as narrow as ``keys + cols``.
          The reference's enrichment layer IS this statement
          (kicc_to_tb_sales.py:109-124 UPDATE-JOINs). An empty list is
          a no-op matched clause (SQL MERGE without WHEN MATCHED).
        - ``when_matched_update={col: sql_expr}`` — expression SET:
          matched rows set each column to the expression evaluated
          over the joined (target, source) row — bare names are TARGET
          columns, ``source.<name>`` the source row (the CDC increment
          ``SET total = total + source.delta``). Simultaneous
          assignment, results cast to the column's dtype. File pruning
          applies exactly as in list mode (keyed by the source).
        - ``when_matched_delete=pred`` — source rows flagged by
          ``pred`` (evaluated on the source row — the CDC
          ``_deleted`` shape) DELETE their matched target rows and
          never insert.
        - ``insert_unmatched=False`` — suppress the insert branch
          (pure UPDATE-JOIN; default True keeps the upsert contract).
        - ``when_matched_update_pred`` — Delta's ``WHEN MATCHED AND
          cond THEN UPDATE SET``: a SQL condition over the joined row
          (bare names = target, ``source.<c>`` = source) gating the
          matched update; failing/NULL rows keep their values and
          still never insert. File pruning unchanged.
        - ``insert_cols=[cols]`` — SQL MERGE's column-list INSERT:
          unmatched rows take source values for exactly these columns
          (must include every key); other columns land NULL even when
          the source carries them. Clause mode only.
        - ``when_not_matched_insert_pred`` — Delta's ``WHEN NOT
          MATCHED AND cond THEN INSERT``: a SQL condition over the
          SOURCE row gating the insert branch; unmatched rows failing
          it (or NULL) are dropped. Clause mode only.
        - ``when_matched_delete_scope`` — what a delete-flagged
          UNMATCHED source row means: ``"source"`` (default, the CDC
          contract — a flagged row is a delete command and never
          inserts) or ``"matched"`` (Delta's clause semantics — the
          delete clause touches matched rows only, so an unmatched
          flagged row inserts like any other). The SQL ``MERGE INTO``
          surface passes ``"matched"``. Clause mode only.
        - ``not_matched_by_source_delete=True`` (or a predicate over
          the TARGET row) — Delta's WHEN NOT MATCHED BY SOURCE THEN
          DELETE, the full-sync shape: target rows with no source key
          match are removed. This clause makes EVERY file a rewrite
          candidate (any file may hold an unmatched row), so all file
          pruning is disabled for the merge — the documented,
          unavoidable cost of full-sync semantics (Delta scans the
          whole table for this clause too). Don't reach for it when a
          keyed window merge expresses the intent.
        - ``clauses=[...]`` — ORDERED multi-clause mode (Delta's
          written-order semantics, first-match-wins within each clause
          group): pass the statement as an ordered list of clause
          tuples (``("update", pred, assigns)``, ``("delete", pred)``,
          ``("insert", pred, cols)``, ``("by_source_update", pred,
          assigns)``, ``("by_source_delete", pred)`` — grammar and the
          only-last-unconditional rule in
          ``operators.merge.validate_ordered_clauses``). This is the
          route for statements the flat per-kind parameters cannot
          spell: several conditional UPDATE clauses, UPDATE written
          before DELETE, multiple gated INSERT lists. Mutually
          exclusive with every per-kind clause parameter; file pruning
          applies exactly as below (a by-source clause disables it).
          Duplicate source keys refuse unless ``order_col`` arbitrates.
        - ``not_matched_by_source_update={col: expr}`` (+ optional
          ``..._update_pred`` over the target row) — Delta's WHEN NOT
          MATCHED BY SOURCE THEN UPDATE SET: unmatched target rows take
          the assignments (expressions see the target row only; there
          is no source row). Runs AFTER the by-source delete clause.
          Pruning is disabled exactly as for the delete variant — any
          file may hold an unmatched row.

        File pruning below applies unchanged to the other clause
        merges: a narrow UPDATE source still prunes by partition
        values, key-range stats, and blooms, so "set one column for
        matching rows" rewrites only the files that can hold a
        matching key.
        Clause merges evolve the schema only under
        ``schema_evolution=True`` (Delta's ``WITH SCHEMA EVOLUTION``):
        source columns the statement ASSIGNS — explicit UPDATE/INSERT
        targets, or every source column under ``INSERT *`` — extend
        the schema as a metadata change; untouched files are carried
        by reference and read NULL for the new columns. Merge metadata
        (``order_col``, a CDC flag column) never evolves in, shared
        columns must keep their type, and an expression SET of a
        column absent from BOTH table and source still refuses (no
        type to derive). Constraints are validated on the REWRITTEN
        rows (the source may be narrower than the table).

        ``txn=(app_id, version)`` makes the merge an idempotent
        streaming transaction (Delta's txnAppId/txnVersion shape): the
        manifest carries a per-app high-water mark, and a merge whose
        version is at or below it is SKIPPED — so a restarted
        Structured Streaming query replaying its last micro-batch
        through ``foreachBatch`` lands it exactly once even when batch
        content is not deterministic. The ledger survives compaction,
        overwrite, and restore (carried forward by every commit).

        File-pruned: when the table is partitioned, the distinct
        partition tuples present in ``source`` (a driver-side list the
        size of the touched-partition count — e.g. the reference's
        2-day daily window) select which data files can hold matching
        keys. Untouched files are carried into the new manifest
        *by reference*: never read, never rewritten — the Delta/Iceberg
        MERGE shape. Requires the partition columns to be part of (or
        functionally determined by) ``keys``, else a key could hide in
        an unread partition; unpartitioned tables merge against the
        full snapshot — minus what key-range skipping prunes, below.

        A second, finer prune runs on whatever survives partition
        pruning (and is the ONLY prune on unpartitioned tables or when
        keys aren't the partition columns): the source's per-key-column
        min/max (one scalar aggregate) is intersected with each file's
        footer-derived stats recorded in the manifest at write time.
        A file whose recorded key range is provably disjoint from the
        source's cannot hold a mergeable row and is carried by
        reference — data skipping, the Delta/Iceberg file-stats shape.
        The reference's daily keyed probe (load_sales_data.py:35-40)
        at scale is exactly this: a narrow source key window touches
        the files that overlap it, not the whole table.
        """

        nmbs = not_matched_by_source_delete
        ordered_groups = None
        if clauses is not None:
            # ordered mode (Delta's written-order multi-clause MERGE —
            # semantics in operators.merge.merge_ordered) excludes the
            # flat per-kind parameters: one statement, one grammar
            if (
                when_matched_update is not None
                or when_matched_delete is not None
                or not insert_unmatched
                or nmbs is not False
                or not_matched_by_source_update
                or not_matched_by_source_update_pred is not None
                or insert_cols is not None
                or when_matched_update_pred is not None
                or when_not_matched_insert_pred is not None
                or when_matched_delete_scope != "source"
            ):
                raise ValueError(
                    "clauses= (ordered multi-clause mode) excludes the "
                    "per-kind clause parameters — express the whole "
                    "statement as the ordered clause list"
                )
            from etl_job_spark.operators.merge import validate_ordered_clauses

            # validate eagerly (loud refusal before any job runs)
            ordered_groups = validate_ordered_clauses(clauses)
        # EITHER by-source clause makes every file a rewrite candidate
        nmbs_active = (
            (nmbs is not False and nmbs is not None)
            or bool(not_matched_by_source_update)
            or bool(ordered_groups and ordered_groups[2])
        )
        clause_mode = (
            when_matched_update is not None
            or when_matched_delete is not None
            or not insert_unmatched
            or nmbs_active
            or insert_cols is not None
            or when_not_matched_insert_pred is not None
            or clauses is not None
        )
        ins_set = (
            None if insert_cols is None else set(insert_cols) | set(keys)
        )
        if insert_cols is not None:
            missing_keys = [k for k in keys if k not in insert_cols]
            if missing_keys:
                raise ValueError(
                    f"insert_cols must include every merge key (missing "
                    f"{missing_keys}): a NULL-key insert could never match "
                    "again"
                )

        def attempt() -> int:
            base = self.latest_version()
            if base is None:
                if clauses is not None:
                    # ordered mode against no table: nothing can match,
                    # so only the insert clauses act (first-match-wins
                    # over the source rows; the source defines the
                    # schema width, unlisted columns land NULL)
                    from etl_job_spark.operators.merge import (
                        ordered_inserts_only,
                    )

                    first = ordered_inserts_only(source, keys, clauses, order_col)
                    entries = self._write_data_files(first, None)
                    return self._commit(
                        entries, first.schema, None, None, {"op": "merge"},
                        stream_txn=txn,
                    )
                first_src = source
                if ins_set is not None:
                    # column-list insert on a first commit: unlisted
                    # columns land NULL (the source still defines the
                    # schema width)
                    stypes = dict(first_src.dtypes)
                    first_src = first_src.select(
                        *[
                            F.col(c)
                            if c in ins_set
                            else F.lit(None).cast(stypes[c]).alias(c)
                            for c in first_src.columns
                        ]
                    )
                if when_matched_delete is not None:
                    if when_matched_delete_scope == "source":
                        # CDC scope: a flagged row is a delete command,
                        # and deleting from an empty table is a no-op —
                        # it never inserts. Delta scope ("matched")
                        # keeps them: nothing is matched, so the delete
                        # clause claims no rows and flagged rows insert.
                        dpred = (
                            F.expr(when_matched_delete)
                            if isinstance(when_matched_delete, str)
                            else when_matched_delete
                        )
                        first_src = first_src.filter(
                            ~F.coalesce(dpred, F.lit(False))
                        )
                    # the documented CDC shape names a plain flag column
                    # (e.g. _deleted): it is merge metadata, not table
                    # data — drop it so a first commit doesn't bake the
                    # tombstone flag into the schema (merges against an
                    # EXISTING table never evolve the schema, so the
                    # flag stays out there; mirror that here)
                    if (
                        isinstance(when_matched_delete, str)
                        and when_matched_delete.isidentifier()
                        and when_matched_delete in first_src.columns
                    ):
                        first_src = first_src.drop(when_matched_delete)
                if when_not_matched_insert_pred is not None:
                    from etl_job_spark.operators.merge import (
                        _strip_source_qualifier,
                    )

                    first_src = first_src.filter(
                        F.coalesce(
                            F.expr(
                                _strip_source_qualifier(
                                    when_not_matched_insert_pred
                                )
                            ),
                            F.lit(False),
                        )
                    )
                if not insert_unmatched:
                    # nothing can match an empty table; no inserts
                    # either — a pure UPDATE-JOIN against nothing
                    first_src = first_src.limit(0)
                first = merge_upsert_source_only(first_src, keys, order_col)
                entries = self._write_data_files(first, None)
                return self._commit(
                    entries, first.schema, None, None, {"op": "merge"}, stream_txn=txn
                )
            # the source plan feeds up to three actions below (touched-
            # partition collect, key-range aggregate, the merge write);
            # persist so an expensive upstream plan — the reference's
            # fetch+transform chain — computes once per attempt, not 3x
            src = source.persist()
            try:
                return _merge_against(base, src)
            finally:
                src.unpersist()

        def _merge_against(base: int, source: DataFrame) -> int:
            man = self._read_manifest(base)
            if txn is not None:
                applied = (man.get("stream_txns") or {}).get(txn[0])
                if applied is not None and int(txn[1]) <= applied:
                    return base  # replayed micro-batch: already landed
            partition_by = man["partition_by"]
            if clause_mode:
                # clause merges evolve the schema only under explicit
                # ``schema_evolution`` (below): UPDATE sets existing
                # columns, DELETE removes rows, and inserts NULL-fill
                # to the table's width. The source may be NARROWER
                # than the table (keys + update cols), so validation
                # runs on the rewritten rows below, where every column
                # carries its real post-merge value.
                schema = self._manifest_schema(man)
                if schema is None:
                    schema = self.snapshot(spark, base).schema
                if schema_evolution:
                    # Delta's WITH SCHEMA EVOLUTION: source columns
                    # the statement ASSIGNS (explicit targets, or all
                    # of them under INSERT */SET *) extend the schema
                    # as a metadata change — untouched files carry by
                    # reference and read NULL for the new columns,
                    # exactly like alter_schema(add=...). Types come
                    # from the source; a shared column changing type
                    # still refuses (files would go stale).
                    assigned = self._clause_assigned_columns(
                        source.columns, order_col, when_matched_update,
                        insert_cols, insert_unmatched, when_matched_delete,
                        clauses,
                    )
                    probe = source.select(
                        *[c for c in source.columns if c in assigned]
                    )
                    schema = self._evolved_schema(man, probe)
            else:
                # order_col is merge metadata, not part of the result
                # schema (unless the table already owns that name)
                schema = self._evolved_schema(
                    man, source.drop(order_col) if order_col else source
                )
                # the source rows are the only NEW data a merge
                # introduces; rows already in the table were validated
                # when written
                self._validate(
                    _align(source.drop(order_col) if order_col else source, schema),
                    man.get("constraints"),
                )

            touched, untouched, _tiers = self._merge_prune(
                spark, man, schema, source, keys, nmbs_active
            )
            cmap = man.get("column_map") or {}
            part_fields = _partition_fields(partition_by)

            if touched:
                # align the touched rows to the evolved schema first, so a
                # source-introduced column survives merge_upsert's
                # align-to-target step
                target = _align(self._read_files(spark, touched, man), schema, cmap)
                if clauses is not None:
                    from etl_job_spark.operators.merge import (
                        _ORDERED_BROADCAST_ROWS,
                        merge_ordered,
                    )

                    # bounded row probe (limit pushes down — the scan
                    # stops at the bound): a dim-sized source takes the
                    # broadcast plan, so the touched files never
                    # shuffle for the ordered engine's join
                    small = (
                        source.limit(_ORDERED_BROADCAST_ROWS + 1).count()
                        <= _ORDERED_BROADCAST_ROWS
                    )
                    merged = merge_ordered(
                        target, source, keys, clauses, order_col=order_col,
                        small_source=small,
                    )
                elif clause_mode:
                    merged = merge_clauses(
                        target,
                        source,
                        keys,
                        order_col=order_col,
                        update_cols=when_matched_update,
                        delete_pred=when_matched_delete,
                        insert_unmatched=insert_unmatched,
                        not_matched_by_source_delete=nmbs,
                        not_matched_by_source_update=not_matched_by_source_update,
                        not_matched_by_source_update_pred=(
                            not_matched_by_source_update_pred
                        ),
                        insert_cols=insert_cols,
                        update_pred=when_matched_update_pred,
                        insert_pred=when_not_matched_insert_pred,
                        delete_scope=when_matched_delete_scope,
                    )
                else:
                    merged = merge_upsert(target, source, keys, order_col=order_col)
            elif clauses is not None:
                # ordered mode, nothing matched: only the insert
                # clauses can produce rows (the by-source clauses
                # disable pruning, so touched can only be empty when
                # the table holds no files at all)
                from etl_job_spark.operators.merge import ordered_inserts_only

                merged = _align(
                    ordered_inserts_only(source, keys, clauses, order_col),
                    schema,
                )
            elif clause_mode:
                # nothing matched: only the insert branch can produce
                # rows (delete of an absent key is a no-op; updates
                # have nothing to touch)
                ins = source
                if when_matched_delete is not None and (
                    when_matched_delete_scope == "source"
                ):
                    # Delta scope keeps flagged rows: nothing matched,
                    # so the delete clause claims none and they insert
                    dpred = (
                        F.expr(when_matched_delete)
                        if isinstance(when_matched_delete, str)
                        else when_matched_delete
                    )
                    ins = ins.filter(~F.coalesce(dpred, F.lit(False)))
                if not insert_unmatched:
                    return base  # pure UPDATE-JOIN touched nothing
                if when_not_matched_insert_pred is not None:
                    from etl_job_spark.operators.merge import (
                        _strip_source_qualifier,
                    )

                    ins = ins.filter(
                        F.coalesce(
                            F.expr(
                                _strip_source_qualifier(
                                    when_not_matched_insert_pred
                                )
                            ),
                            F.lit(False),
                        )
                    )
                if ins_set is not None:
                    # column-list insert: unlisted columns drop here
                    # and NULL-fill through the schema align below
                    ins = ins.select(*[c for c in ins.columns if c in ins_set])
                merged = _align(merge_upsert_source_only(ins, keys, order_col), schema)
            else:
                merged = _align(merge_upsert_source_only(source, keys, order_col), schema)
            # clause mode: the rewritten rows are the only data this
            # commit introduces — validate them with every column at
            # its real post-merge value (narrow sources can't be
            # validated standalone); enforcement happens inside the
            # write (task-side fused when eligible, else one agg over
            # the logical merged frame first)
            write_cons = man.get("constraints") if clause_mode else None
            logical_merged = merged
            # files store physical names: rename BEFORE the partition
            # repartition (whose fields are physical) and the write
            merged = _renamed(merged, cmap)
            if partition_by:
                # cluster the rewrite on the partition VALUES (raw or
                # transform-derived): without this every shuffle task
                # writes a sliver into every touched partition dir
                # (tasks x partitions tiny files — the small-file
                # problem compact exists to cure, created fresh on
                # every merge). One task per touched partition value is
                # the right write shape for the keyed-window merge this
                # method serves.
                merged = merged.repartition(*[f.column(merged) for f in part_fields])
            new_entries = self._write_data_files(
                merged, partition_by or None, bloom_cols=man.get("bloom_cols"),
                constraints=write_cons,
                validate_frame=logical_merged if write_cons else None,
                column_map=cmap,
            )
            return self._commit(
                untouched + new_entries, schema, partition_by or None, base,
                {"op": "merge"}, bloom_cols=man.get("bloom_cols"), stream_txn=txn,
            )

        return self._with_commit_retries(attempt)

    def delete_keys(
        self,
        spark: SparkSession,
        key_col: str,
        values: Sequence,
        mode: str = "copy_on_write",
        mor_row_limit: int = _MOR_FALLBACK_ROWS,
    ) -> int:
        """Point DELETE: drop every row whose ``key_col`` is in
        ``values`` (the GDPR-erasure call shape). Structurally a
        ``delete_where(key IN ...)``, but the explicit value set lets
        planning skip whole files BEFORE any scan: per-file key
        min/max first, then per-file bloom filters when the table
        was written with ``bloom_cols`` — which is what saves the day
        on hash-scattered keys, where every file's range overlaps
        everything. NULLs in ``values`` are ignored (SQL IN never
        matches NULL)."""
        vals = [v for v in dict.fromkeys(values) if v is not None]
        if not vals:
            base = self.latest_version()
            if base is None:
                raise FileNotFoundError(f"no committed version at {self.path}")
            return base
        return self.delete_where(
            spark,
            F.col(key_col).isin(vals),
            mode=mode,
            mor_row_limit=mor_row_limit,
            _prune_values={key_col: vals},
            _describe=f"{key_col} IN (<{len(vals)} values>)",
        )

    def delete_where(
        self,
        spark: SparkSession,
        predicate: str | Column,
        mode: str = "copy_on_write",
        mor_row_limit: int = _MOR_FALLBACK_ROWS,
        _prune_values: dict[str, list] | None = None,
        _describe: str | None = None,
    ) -> int:
        """DELETE the rows matching ``predicate``; returns the new
        version (or the current one when nothing matched: an empty
        delete publishes nothing). SQL DELETE semantics either way:
        rows where the predicate is NULL are kept.

        ``mode="copy_on_write"`` (default) — the Delta/Iceberg CoW
        shape, in two passes:

        1. one scan over the snapshot with the predicate pushed into
           the parquet reader finds which files actually contain a
           matching row (footer min/max lets whole row groups — and
           with them most files — be skipped without reading data).
           The result is a driver-side file list, the same scale
           contract as MERGE's touched-partition list;
        2. only those files are read a second time and rewritten
           without the matching rows; every untouched file is carried
           into the new manifest by reference — never read, never
           rewritten.

        ``mode="merge_on_read"`` — deletion vectors: NO data file is
        read twice or rewritten; the matching physical row positions
        are recorded against each file (keyed by its full
        manifest-relative path) and every reader anti-joins them out
        (``_read_files``). The positions never visit the driver: a
        per-file matched COUNT comes back (O(touched files) scalars),
        small per-file sets (≤ ``_DV_INLINE_MAX``) inline into the
        manifest, larger ones are written by the executors to a
        parquet sidecar under ``_dv/`` that the manifest references —
        manifests stay O(files) regardless of how many rows died. The
        right shape for scattered deletes (GDPR erasure, the
        reference's late daily corrections — load_sales_data.py:129-134);
        a delete matching more than ``mor_row_limit`` rows
        auto-falls-back to copy-on-write, where rewriting the files is
        cheaper than dragging a huge DV through every future read. Any
        later rewrite of a file's rows (MERGE touch, compact)
        materializes its DV away.
        """
        if mode == "merge_on_read":
            try:
                return self._delete_where_mor(
                    spark, predicate, mor_row_limit, _prune_values, _describe
                )
            except _CowFallback:
                pass  # matched set too large for MoR — rewrite instead
        elif mode != "copy_on_write":
            raise ValueError(
                f"delete mode {mode!r}: use 'copy_on_write' or 'merge_on_read'"
            )

        def attempt() -> int:
            base = self.latest_version()
            if base is None:
                raise FileNotFoundError(f"no committed version at {self.path}")
            man = self._read_manifest(base)
            pred = F.expr(predicate) if isinstance(predicate, str) else predicate

            # point-delete planning prune (delete_keys): stats + blooms
            # drop provably-cold files before the scan even opens them
            candidates = man["files"]
            untouched: list[dict] = []
            if _prune_values:
                types = self._schema_types(man)
                utc = _session_utc(spark)
                candidates, untouched = self._split_by_values(
                    spark, man["files"], _prune_values, types, utc, "delete-cow",
                    column_map=man.get("column_map"),
                )
            if not candidates:
                return base

            # the predicate speaks LOGICAL names; files store PHYSICAL —
            # and may predate a metadata-only ADD COLUMN, so the scan
            # NULL-fills committed fields the files lack before the
            # predicate resolves against it
            schema = self._manifest_schema(man)
            cmap = man.get("column_map") or {}
            inv = {p: l for l, p in cmap.items()}
            scan = _renamed(
                self._read_files(spark, candidates, man, with_file_path=True), inv
            )
            hit_files = {
                _strip_file_scheme(r["__file"])
                for r in scan.filter(pred).select("__file").distinct().collect()
            }
            touched = []
            for entry in candidates:
                full = os.path.abspath(
                    os.path.join(entry.get("base") or self.data_dir, entry["path"])
                )
                (touched if full in hit_files else untouched).append(entry)
            if not touched:
                return base  # nothing matched; no new version

            partition_by = man["partition_by"]
            kept = _renamed(self._read_files(spark, touched, man), inv).filter(
                ~F.coalesce(pred, F.lit(False))
            )
            if schema is not None:
                kept = _align(kept, schema)
            else:
                schema = kept.schema
            new_entries = self._write_data_files(
                _renamed(kept, cmap), partition_by or None,
                bloom_cols=man.get("bloom_cols"),
            )
            op = {
                "op": "delete",
                "predicate": _describe
                or (predicate if isinstance(predicate, str) else str(pred)),
            }
            return self._commit(
                untouched + new_entries, schema, partition_by or None, base, op,
                bloom_cols=man.get("bloom_cols"),
            )

        return self._with_commit_retries(attempt)

    def update_where(
        self,
        spark: SparkSession,
        set: dict[str, str | Column],
        where: str | Column | Sequence[tuple],
    ) -> int:
        """Row-level UPDATE: assign ``set``'s expressions to the rows
        matching ``where``; returns the new version (the current one
        when nothing matched — an empty update publishes nothing).
        The table format's UPDATE verb, completing
        overwrite/append/merge/delete/compact; the reference's
        enrichment statements are exactly this shape
        (kicc_to_tb_sales.py:127-134: ``UPDATE ... SET col = const
        WHERE ...``; the join-driven variants go through
        ``merge(when_matched_update=...)``).

        SQL UPDATE semantics: rows where the predicate is NULL are
        kept unchanged; every SET expression is evaluated against the
        PRE-update row (simultaneous assignment), and its result is
        cast to the column's existing type — an UPDATE never changes
        the schema. ``set`` keys must be existing non-partition-derived
        table columns (logical names).

        Planned like ``delete_where``'s copy-on-write, in two passes:

        1. find the files that actually hold a matching row. When
           ``where`` is a PREDICATE SPEC (the ``snapshot_where`` tuple
           form), planning first drops provably-cold files from
           partition values, key-range stats, and blooms WITHOUT
           opening them — "backfill one column for last week" touches
           O(window) files on a clustered 100 TB mart. A plain
           str/Column predicate skips that metadata prune (arbitrary
           expressions can't be reasoned about from stats) and finds
           hit files with one pushed-predicate scan.
        2. rewrite ONLY the hit files with the assignments applied
           (under the CURRENT partition spec — legacy-layout files
           migrate as a side effect, like merge rewrites); every
           untouched file is carried into the new manifest by
           reference — never read, never rewritten. Deletion vectors
           on rewritten files materialize away; constraints validate
           the rewritten rows before anything commits.
        """
        if not set:
            raise ValueError("update_where: empty SET map")
        spec: list[tuple] | None = None
        if isinstance(where, (list, tuple)):
            spec = _normalize_predicates(where)
            pred = predicate_column(spec)
            describe = str(spec)
        else:
            pred = F.expr(where) if isinstance(where, str) else where
            describe = where if isinstance(where, str) else str(pred)
        set_exprs = {
            c: (F.expr(e) if isinstance(e, str) else e) for c, e in set.items()
        }

        def attempt() -> int:
            base = self.latest_version()
            if base is None:
                raise FileNotFoundError(f"no committed version at {self.path}")
            man = self._read_manifest(base)
            schema = self._manifest_schema(man)
            if schema is None:
                schema = self.snapshot(spark, base).schema
            logical = {f.name: f.dataType for f in schema.fields}
            # NB: the ``set`` parameter shadows the builtin here
            unknown = sorted(k for k in set_exprs if k not in logical)
            if unknown:
                raise ValueError(
                    f"update_where: SET columns {unknown} are not table columns"
                )
            partition_by = man["partition_by"]
            cmap = man.get("column_map") or {}

            candidates = man["files"]
            untouched: list[dict] = []
            if spec is not None:
                candidates, untouched = self._prune_by_key_stats(
                    man["files"], spec, schema,
                    partition_by=partition_by, utc=_session_utc(spark),
                    column_map=cmap, partition_specs=man.get("partition_specs"),
                )
            candidates = [e for e in candidates if not _fully_dead(e)]
            if not candidates:
                return base

            # fast path: a candidate whose metadata PROVES every row
            # matches the spec (``_entry_all_match`` — count_where's
            # positive matcher: partition constants, spec-history
            # dirs, stats ranges with a recorded zero null count) is a
            # hit without scanning; when every candidate proves, the
            # hit-discovery scan below is skipped entirely — the
            # "backfill a whole partition" statement plans from
            # metadata alone. Files with DVs stay in the scan path
            # (their live-row set is not what the footer describes).
            touched: list[dict] = []
            if spec is not None:
                utc = _session_utc(spark)
                tmap = _prune_tmap(
                    partition_by, man.get("partition_specs"), utc
                )
                part_types = {
                    cmap.get(f.name, f.name): f.dataType.simpleString()
                    for f in schema.fields
                }
                phys_spec = [
                    (cmap.get(c, c), op, v) for c, op, v in spec
                ]
                proved, candidates = self._split_candidates(
                    spark,
                    candidates,
                    lambda e: not (e.get("dv") or e.get("dv_ref"))
                    and _entry_all_match(e, phys_spec, part_types, tmap, utc),
                    "update-allmatch",
                )
                touched.extend(proved)
            if candidates:
                # the predicate/SET speak LOGICAL names; files PHYSICAL
                # — NULL-filled for metadata-only added columns the
                # files predate, so e.g. the backfill shape
                # ``SET c = … WHERE c IS NULL`` resolves
                inv = {p: l for l, p in cmap.items()}
                scan = _renamed(
                    self._read_files(spark, candidates, man, with_file_path=True),
                    inv,
                )
                hit_files = {
                    _strip_file_scheme(r["__file"])
                    for r in scan.filter(pred).select("__file").distinct().collect()
                }
                for entry in candidates:
                    full = os.path.abspath(
                        os.path.join(
                            entry.get("base") or self.data_dir, entry["path"]
                        )
                    )
                    (touched if full in hit_files else untouched).append(entry)
            if not touched:
                return base  # nothing matched; no new version

            rows = _align(self._read_files(spark, touched, man), schema, cmap)
            hit = F.coalesce(pred, F.lit(False))
            updated = rows.select(
                *[
                    F.when(hit, set_exprs[c].cast(logical[c]))
                    .otherwise(F.col(c))
                    .alias(c)
                    if c in set_exprs
                    else F.col(c)
                    for c in rows.columns
                ]
            )
            # the rewritten rows are the only data this commit
            # introduces — validated inside the write (task-side fused
            # when eligible, else one agg pass before anything lands)
            new_entries = self._write_data_files(
                _renamed(updated, cmap), partition_by or None,
                bloom_cols=man.get("bloom_cols"),
                constraints=man.get("constraints"),
                validate_frame=updated if man.get("constraints") else None,
                column_map=cmap,
            )
            op = {
                "op": "update",
                "predicate": describe,
                "set": sorted(set_exprs),
            }
            return self._commit(
                untouched + new_entries, schema, partition_by or None, base, op,
                bloom_cols=man.get("bloom_cols"),
            )

        return self._with_commit_retries(attempt)

    def _delete_where_mor(
        self,
        spark: SparkSession,
        predicate: str | Column,
        mor_row_limit: int,
        prune_values: dict[str, list] | None = None,
        describe: str | None = None,
    ) -> int:
        """Deletion-vector DELETE (see ``delete_where`` mode docs).

        Driver-bounded by construction: the only collects are the
        per-file matched counts (O(touched files) scalars) and the
        inline position lists (≤ ``_DV_INLINE_MAX`` each); positions
        of heavily-hit files flow executor→sidecar-parquet without a
        driver hop. Raises ``_CowFallback`` past ``mor_row_limit``."""

        def attempt() -> int:
            base = self.latest_version()
            if base is None:
                raise FileNotFoundError(f"no committed version at {self.path}")
            man = self._read_manifest(base)
            if any(e.get("base") for e in man["files"]):
                raise ValueError(
                    "merge_on_read DELETE is unsupported on a table holding "
                    "shallow-cloned (foreign-based) file references: deletion "
                    "vectors key row positions by the table's OWN relative "
                    "paths — use the default copy_on_write mode, which "
                    "rewrites the touched files into this table"
                )
            pred = F.expr(predicate) if isinstance(predicate, str) else predicate
            # point-delete planning prune (delete_keys): stats + blooms
            # drop provably-cold files before the scan opens them
            candidates = man["files"]
            if prune_values:
                types = self._schema_types(man)
                utc = _session_utc(spark)
                candidates, _ = self._split_by_values(
                    spark, candidates, prune_values, types, utc, "delete-mor",
                    column_map=man.get("column_map"),
                )
            if not candidates:
                return base
            # existing DVs are applied by _read_files, so re-deleting an
            # already-deleted row is a no-op — new positions are always
            # disjoint from recorded ones, and counts add exactly.
            # The predicate speaks LOGICAL names; files store PHYSICAL
            # (NULL-filled for metadata-only added columns)
            scan = _renamed(
                self._read_files(
                    spark, candidates, man, with_file_path=True, with_row_index=True
                ),
                {p: l for l, p in (man.get("column_map") or {}).items()},
            )
            matched = scan.filter(pred).select(
                _rel_path_col(self.data_dir).alias("__dv_path"),
                F.col("__idx").alias("pos"),
            )
            matched = matched.persist()
            try:
                counts = {
                    r["__dv_path"]: int(r["n"])
                    for r in matched.groupBy("__dv_path").agg(F.count("*").alias("n")).collect()
                }
                if not counts:
                    return base
                by_path = {e["path"]: e for e in man["files"]}
                unknown = sorted(set(counts) - set(by_path))
                if unknown:
                    # the URI→relative-path mapping disagreed with the
                    # manifest: refuse to record a DV that readers could
                    # mis-apply (silent wrong data) — fail loudly
                    raise RuntimeError(
                        f"MoR delete: matched file paths not in manifest: {unknown[:3]}"
                    )
                total = sum(counts.values())
                if total > mor_row_limit:
                    raise _CowFallback
                spill = {
                    p
                    for p, n in counts.items()
                    if n + _dv_count(by_path[p]) > _DV_INLINE_MAX
                }
                dv_ref_rel = None
                if spill:
                    dv_ref_rel = os.path.join(_DV_DIR, uuid.uuid4().hex)
                    (
                        matched.filter(F.col("__dv_path").isin(list(spill)))
                        .select(F.col("__dv_path").alias("path"), "pos")
                        .repartition(max(1, min(len(spill), 32)), "path")
                        .write.mode("error")
                        .parquet(os.path.join(self.path, dv_ref_rel))
                    )
                inline_paths = [p for p in counts if p not in spill]
                inline: dict[str, list[int]] = {}
                if inline_paths:
                    got = (
                        matched.filter(F.col("__dv_path").isin(inline_paths))
                        .groupBy("__dv_path")
                        .agg(F.sort_array(F.collect_list("pos")).alias("positions"))
                        .collect()
                    )
                    inline = {r["__dv_path"]: [int(i) for i in r["positions"]] for r in got}
            finally:
                matched.unpersist()
            new_entries = []
            for e in man["files"]:
                n_new = counts.get(e["path"])
                if not n_new:
                    new_entries.append(e)
                    continue
                e2 = {**e, "dv_rows": _dv_count(e) + n_new}
                add = inline.get(e["path"])
                if add is not None:
                    e2["dv"] = sorted(set(e.get("dv") or []) | set(add))
                else:
                    e2["dv_ref"] = list(e.get("dv_ref") or []) + [dv_ref_rel]
                new_entries.append(e2)
            op = {
                "op": "delete",
                "mode": "merge_on_read",
                "predicate": describe
                or (predicate if isinstance(predicate, str) else str(pred)),
                "n_deleted": total,
            }
            schema = self._manifest_schema(man)
            if schema is None:
                schema = self.snapshot(spark, base).schema
            return self._commit(
                new_entries, schema, man["partition_by"] or None, base, op,
                bloom_cols=man.get("bloom_cols"),
            )

        return self._with_commit_retries(attempt)

    def diff(self, spark: SparkSession, from_version: int, to_version: int) -> DataFrame:
        """Change feed between two committed versions, computed from
        manifests: rows only in ``to`` (inserts/updates) tagged
        ``'upsert'``, rows only in ``from`` tagged ``'delete'``.

        File-pruned like MERGE: files present in BOTH manifests are
        identical (files are immutable), so only each side's private
        files are read — a daily diff reads the day's delta, not two
        full snapshots. The downstream-incremental primitive (CDC feed)
        the reference's consumers would poll MySQL binlogs for.
        """
        a = self._read_manifest(from_version)
        b = self._read_manifest(to_version)

        def _ident(e: dict) -> tuple:
            # a file's LIVE content is (immutable bytes, deletion
            # vector): a dv-only commit changes content without
            # changing the path, so identity must carry the DV in
            # both its spellings (inline list + sidecar refs)
            return (
                e["path"],
                tuple(e.get("dv") or []),
                tuple(e.get("dv_ref") or []),
                _dv_count(e),
            )

        a_idents = {_ident(e) for e in a["files"]}
        b_idents = {_ident(e) for e in b["files"]}
        only_a = [e for e in a["files"] if _ident(e) not in b_idents]
        only_b = [e for e in b["files"] if _ident(e) not in a_idents]
        if not only_a and not only_b:
            empty = self.snapshot(spark, to_version).limit(0)
            return empty.withColumn("_change", F.lit("upsert"))
        schema = self._manifest_schema(b)

        def _rd(entries: list[dict], man: dict) -> DataFrame:
            # each side scans under its own version's schema (files only
            # in one version are covered by that version's fields); both
            # store physical names — present the to-version's logical view
            df = self._read_files(spark, entries, man)
            return (
                _align(df, schema, b.get("column_map")) if schema is not None else df
            )

        old = _rd(only_a, a) if only_a else None
        new = _rd(only_b, b) if only_b else None
        if old is None:
            return new.withColumn("_change", F.lit("upsert"))
        if new is None:
            return old.withColumn("_change", F.lit("delete"))
        cols = new.columns
        upserts = new.exceptAll(old.select(*cols)).withColumn("_change", F.lit("upsert"))
        deletes = old.select(*cols).exceptAll(new).withColumn("_change", F.lit("delete"))
        return upserts.unionByName(deletes)

    def compact(
        self,
        spark: SparkSession,
        target_rows_per_file: int = 1_000_000,
        cluster_by: Sequence[str] | None = None,
        zorder: bool = False,
    ) -> int:
        """Rewrite the current snapshot into ~rows/target files and
        commit it as a new version — same cure for merge-writer file
        fragmentation as ``sinks.compact``, but with snapshot isolation:
        readers of the old version keep their small files until vacuum.

        ``cluster_by`` range-partitions and sorts the rewrite on the
        given (key) columns, so each output file owns a NARROW,
        near-disjoint key range. That's what makes the manifest's
        min/max stats actually skip: hash-layout files each span
        nearly the full key domain (every file intersects every
        source), while clustered files let a narrow-key MERGE touch
        one file instead of all of them — the OPTIMIZE CLUSTER BY
        shape, and the right periodic maintenance for a table merged
        on a keyed window.

        Lexicographic range clustering concentrates ONLY the leading
        column; a merge keyed on the second column still intersects
        every file. ``zorder=True`` (numeric ``cluster_by`` columns)
        interleaves per-column quantile-bucket bits into one
        space-filling-curve key and clusters on that, so every listed
        dimension gets tight-ish per-file ranges — the OPTIMIZE ZORDER
        shape. Quantile buckets (not raw values) make the curve
        skew-proof; the boundary lookup is a bounded in-memory array
        per column (``approxQuantile`` on the driver, 256 buckets).
        Returns the new version."""

        def attempt() -> int:
            # pin base BEFORE reading: reading latest-then-base would
            # let a commit landing between the two be silently erased
            # (the rewrite would publish on top of it with the OLD
            # file list and no CommitConflictError)
            base = self.latest_version()
            df = self.snapshot(spark, version=base)
            n = df.count()
            n_files = max(1, -(-n // target_rows_per_file))
            partition_by = self._read_manifest(base)["partition_by"] if base is not None else []
            if cluster_by and zorder:
                zkey = _zorder_key(df, list(cluster_by))
                out = (
                    df.withColumn("__z", zkey)
                    .repartitionByRange(n_files, F.col("__z"))
                    .sortWithinPartitions("__z")
                    .drop("__z")
                )
            elif cluster_by:
                cols = [F.col(c) for c in cluster_by]
                out = df.repartitionByRange(n_files, *cols).sortWithinPartitions(*cols)
            else:
                out = df.repartition(n_files)
            blooms = (
                self._read_manifest(base).get("bloom_cols") if base is not None else None
            )
            cmap = (
                self._read_manifest(base).get("column_map") if base is not None else None
            )
            entries = self._write_data_files(
                _renamed(out, cmap), partition_by or None, bloom_cols=blooms
            )
            op = {
                "op": "compact",
                "cluster_by": list(cluster_by or []),
                "zorder": bool(cluster_by) and zorder,
            }
            return self._commit(
                entries, out.schema, partition_by or None, base, op, bloom_cols=blooms
            )

        return self._with_commit_retries(attempt)

    def compact_small_files(
        self,
        spark: SparkSession,
        target_rows_per_file: int = 1_000_000,
        small_file_rows: int | None = None,
        predicates: Sequence[tuple] | None = None,
    ) -> int:
        """INCREMENTAL compaction — the at-scale counterpart of
        ``compact``: bin-pack only the FRAGMENTED files (fewer than
        ``small_file_rows`` rows, default half the target) plus any
        file carrying deletion vectors (the rewrite materializes the
        DV away, shrinking every future read's anti-join); every
        already-well-sized file is carried into the new manifest by
        reference, and fully-dead files are dropped outright. Cost
        scales with the fragmentation a merge/streaming writer
        actually produced, not with table size — ``compact`` on a
        100 TB table rewrites 100 TB to cure a few thousand sliver
        files; this rewrites the slivers. Returns the new version
        (the current one when there is nothing worth rewriting).

        Partitioned tables cluster the rewrite on their partition
        columns (one task per touched partition — the same write shape
        as MERGE); clustering/z-ordering beyond that remains
        ``compact(cluster_by=…)``'s job, since bin-packing arbitrary
        small files cannot preserve a global sort.

        ``predicates`` (the ``snapshot_where`` spec-tuple form) SCOPES
        the pass — SQL's ``OPTIMIZE t WHERE …``: only files the
        predicate can possibly touch (judged from partition values,
        transform dirs, and footer stats, the same per-entry matcher
        every read plans with) are candidates for rewriting or
        dead-file dropping; every other file is carried by reference,
        untouched. A 100 TB mart cures one hot partition's
        fragmentation without listing, reading, or rewriting the rest.
        Unknown stats never exempt a file (unknown = possibly in
        scope — sound, just compacts more)."""
        if small_file_rows is None:
            small_file_rows = max(1, target_rows_per_file // 2)
        spec = _normalize_predicates(predicates) if predicates is not None else None

        def attempt() -> int:
            base = self.latest_version()
            if base is None:
                raise FileNotFoundError(f"no committed version at {self.path}")
            man = self._read_manifest(base)
            in_scope = None
            if spec is not None:
                cmap = man.get("column_map") or {}
                phys_spec = [
                    (cmap.get(col, col), op, v) for col, op, v in spec
                ]
                schema0 = self._manifest_schema(man)
                part_types = (
                    {
                        cmap.get(f.name, f.name): f.dataType.simpleString()
                        for f in schema0.fields
                    }
                    if schema0 is not None
                    else {}
                )
                utc = _session_utc(spark)
                tmap = _prune_tmap(
                    man["partition_by"], man.get("partition_specs"), utc
                )
                in_scope = lambda e: _entry_matches_stats(  # noqa: E731
                    e, phys_spec, part_types, tmap, utc
                )
            carried, rewrite = [], []
            for e in man["files"]:
                if in_scope is not None and not in_scope(e):
                    # outside the OPTIMIZE WHERE scope: carried by
                    # reference even when small or fully dead — the
                    # scoped pass must touch only what the predicate
                    # can reach (manifest-diff pinned)
                    carried.append(e)
                    continue
                if _fully_dead(e):
                    continue  # garbage-collected by this commit
                has_dv = bool(e.get("dv") or e.get("dv_ref"))
                rows = e.get("rows") or 0
                live = rows - _dv_count(e)
                if has_dv or live < small_file_rows:
                    rewrite.append(e)
                else:
                    carried.append(e)
            n_dead = len(man["files"]) - len(carried) - len(rewrite)
            if len(rewrite) <= 1 and not any(
                e.get("dv") or e.get("dv_ref") for e in rewrite
            ) and n_dead == 0:
                return base  # nothing to pack, nothing to drop
            partition_by = man["partition_by"]
            schema = self._manifest_schema(man)
            new_entries: list[dict] = []
            if rewrite:
                df = self._read_files(spark, rewrite, man)
                if schema is not None:
                    # align to the logical view (applies DVs/evolution),
                    # then back to physical names for the rewrite
                    df = _renamed(
                        _align(df, schema, man.get("column_map")),
                        man.get("column_map"),
                    )
                n = df.count()
                n_files = max(1, -(-n // target_rows_per_file))
                if partition_by:
                    out = df.repartition(
                        *[f.column(df) for f in _partition_fields(partition_by)]
                    )
                else:
                    out = df.repartition(n_files)
                new_entries = self._write_data_files(
                    out, partition_by or None, bloom_cols=man.get("bloom_cols")
                )
            if schema is None:
                schema = self.snapshot(spark, base).schema
            op = {
                "op": "compact_small_files",
                "rewritten": len(rewrite),
                "carried": len(carried),
                "dropped_dead": n_dead,
            }
            if spec is not None:
                # stringified: manifest JSON; informational, like the
                # rest of the operation dict
                op["predicates"] = [f"{col} {o} {v!r}" for col, o, v in spec]
            return self._commit(
                carried + new_entries, schema, partition_by or None, base, op,
                bloom_cols=man.get("bloom_cols"),
            )

        return self._with_commit_retries(attempt)

    def row_count(self, version: int | None = None) -> int:
        """Exact live-row count from MANIFEST metadata alone — no data
        I/O, no Spark job: per-file footer row counts minus recorded
        deletion-vector positions (Iceberg's metadata-table count).
        The at-scale answer to ``snapshot(spark).count()`` scanning a
        100 TB table to count it."""
        if version is None:
            version = self.latest_version()
            if version is None:
                raise FileNotFoundError(f"no committed version at {self.path}")
        raw = self._read_raw_manifest(version)
        if "live_rows" in raw:
            # commit-time rollup: ONE manifest read, no file-list
            # resolution — O(1) even at 10^6 files
            return int(raw["live_rows"])
        man = self._read_manifest(version)
        return sum((e.get("rows") or 0) - _dv_count(e) for e in man["files"])

    def meta_agg(
        self,
        spark: SparkSession,
        cols: Sequence[str],
        version: int | None = None,
    ) -> dict:
        """Exact COUNT(*) / COUNT(col) / MIN(col) / MAX(col) answered
        from MANIFEST METADATA — footer row counts, null counts, and
        min/max recorded at write time — without opening a single data
        file (Delta answers ``count(*)`` from its log the same way; at
        100 TB this is the difference between a catalog lookup and a
        full scan). Returns::

            {"version": v, "rows": n,
             "columns": {col: {"non_null": n, "min": v, "max": v,
                               "metadata_only": bool}}}

        Exactness is never traded away: whenever the metadata cannot
        PROVE a column's answer — a file carries deletion vectors
        (deleted rows may hold the extrema or the NULLs), stats are
        missing (schema-evolved, wide-table truncation, binary), or a
        partition dir can't be canonicalized — that column silently
        falls back to ONE real aggregation scan and reports
        ``metadata_only: False``. Small tables fold entries on the
        driver; past ``_SPARK_PRUNE_MIN_FILES`` the fold runs as
        mapInPandas partials over the same (sidecar-backed, never
        driver-materialized) entries source the read planners scan.

        Reference analogue: the row-count/SUM existence checks the
        reference's loaders run before each window load
        (kicc_to_tb_sales.py SELECT COUNT(*) guards) — O(metadata)
        here instead of a table scan there."""
        if version is None:
            version = self.latest_version()
            if version is None:
                raise FileNotFoundError(f"no committed version at {self.path}")
        raw = self._read_raw_manifest(version)
        schema = self._manifest_schema(raw)
        cmap = raw.get("column_map") or {}
        cols = list(cols)
        by_name = {f.name: f for f in (schema.fields if schema else [])}
        missing = [c for c in cols if c not in by_name]
        if missing:
            raise ValueError(f"meta_agg: unknown columns {missing}")
        phys_of = {c: cmap.get(c, c) for c in cols}
        specs = {
            phys_of[c]: by_name[c].dataType.simpleString() for c in cols
        }
        n_files = raw.get("n_files", 0)
        if version in self._files_cache or n_files < _SPARK_PRUNE_MIN_FILES:
            acc = _meta_acc_new(specs)
            for e in self._read_manifest(version)["files"]:
                _meta_acc_update(acc, e, specs)
        else:
            src = self._entries_source(spark, version)

            def partials(batches):
                import json as _json

                import pandas as _pd

                from etl_job_spark.table import (
                    _meta_acc_new as _new,
                    _meta_acc_update as _upd,
                )

                part = _new(specs)
                for pdf in batches:
                    for s in pdf["entry"]:
                        _upd(part, _json.loads(s), specs)
                yield _pd.DataFrame({"partial": [_json.dumps(part)]})

            acc = _meta_acc_new(specs)
            for r in src.mapInPandas(partials, "partial string").collect():
                _meta_acc_combine(acc, json.loads(r.partial))
        out: dict[str, dict] = {}
        unsound: list[str] = []
        for c in cols:
            a = acc["cols"][phys_of[c]]
            if a["nn_ok"] and a["mm_ok"]:
                kind = specs[phys_of[c]]
                out[c] = {
                    "non_null": a["non_null"],
                    "min": _stat_decode(a["min"], kind),
                    "max": _stat_decode(a["max"], kind),
                    "metadata_only": True,
                }
            else:
                unsound.append(c)
        if unsound:
            aggs = []
            for c in unsound:
                aggs += [
                    F.count(c).alias(f"__nn_{c}"),
                    F.min(c).alias(f"__mn_{c}"),
                    F.max(c).alias(f"__mx_{c}"),
                ]
            row = self.snapshot(spark, version).agg(*aggs).first()
            for c in unsound:
                out[c] = {
                    "non_null": row[f"__nn_{c}"],
                    "min": row[f"__mn_{c}"],
                    "max": row[f"__mx_{c}"],
                    "metadata_only": False,
                }
        return {"version": version, "rows": self.row_count(version), "columns": out}

    def _entries_source(
        self, spark: SparkSession, version: int | None = None
    ) -> DataFrame:
        """One-column (``entry`` JSON string) DataFrame over a
        version's file entries — the shared planning source for the
        metadata tables (``files_df``) and metadata aggregates
        (``meta_agg``). Sidecar-anchored versions (directly or through
        a delta chain) scan the checkpoint parquet and patch the
        O(chain) removes/replacements without ever materializing the
        base list on the driver; inline manifests ship via Arrow."""
        if version is None:
            version = self.latest_version()
            if version is None:
                raise FileNotFoundError(f"no committed version at {self.path}")
        raw = self._read_raw_manifest(version)
        node, removes, upserts = self._sidecar_plan(raw)
        ref_uri = (
            self.store.uri(os.path.join(_MANIFEST_DIR, node["files_ref"]))
            if node is not None
            else None
        )
        if node is not None and ref_uri is not None:
            # bounded literal filter (≤ interval × changed paths)
            src = spark.read.parquet(ref_uri)
            skip = sorted(removes | set(upserts))
            if skip:
                src = src.filter(~F.col("path").isin(skip))
            src = src.select("entry")
            if upserts:
                src = src.unionByName(
                    _entries_df(spark, list(upserts.values()))
                )
            return src
        return _entries_df(spark, self._read_manifest(version)["files"])

    def files_df(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """The snapshot's file entries as a queryable DataFrame —
        Iceberg's ``.files`` metadata table: one row per file
        with path, partition values, footer row count, DV count, live
        rows, and the raw stats/entry JSON for ad-hoc inspection
        (``get_json_object`` reaches any stat). Sidecar-backed
        checkpoints scan their parquet directly (column-pruned, never
        materialized on the driver); inline manifests ship via Arrow.
        Immutable for a pinned version, like any snapshot."""
        src = self._entries_source(spark, version)
        entry = F.col("entry")
        rows = F.get_json_object(entry, "$.rows").cast("bigint")
        dv_rows = F.coalesce(
            F.get_json_object(entry, "$.dv_rows").cast("bigint"),
            F.size(F.from_json(F.get_json_object(entry, "$.dv"), "array<bigint>")),
            F.lit(0),
        )
        return src.select(
            F.get_json_object(entry, "$.path").alias("path"),
            F.from_json(
                F.get_json_object(entry, "$.partition"), "map<string,string>"
            ).alias("partition"),
            rows.alias("rows"),
            dv_rows.alias("dv_rows"),
            (rows - dv_rows).alias("live_rows"),
            F.get_json_object(entry, "$.stats").alias("stats_json"),
            entry.alias("entry_json"),
        )

    def partitions_df(
        self, spark: SparkSession, version: int | None = None
    ) -> DataFrame:
        """Per-partition rollup of the snapshot's files — Iceberg's
        ``.partitions`` metadata table: one row per distinct partition
        value map (transform dirs included, empty map for unpartitioned
        tables) with file count, footer rows, DV'd rows, and live rows.
        Built on the same lazy entries source as ``files_df``, so a
        10^6-file table rolls up as a Spark aggregation over the
        checkpoint sidecar — the partition landscape of a 100 TB table
        from metadata alone (which partitions exist, which are
        fragmented enough to compact, which carry DV debt worth
        rewriting)."""
        fdf = self.files_df(spark, version)
        # maps aren't groupable in Spark; the entry JSON is dumped with
        # sorted keys, so its $.partition substring IS the canonical
        # grouping key — group on it, rebuild the map after
        pj = F.coalesce(
            F.get_json_object(F.col("entry_json"), "$.partition"), F.lit("{}")
        )
        return (
            fdf.groupBy(pj.alias("partition_json"))
            .agg(
                F.count(F.lit(1)).alias("n_files"),
                F.sum("rows").alias("rows"),
                F.sum("dv_rows").alias("dv_rows"),
                F.sum("live_rows").alias("live_rows"),
            )
            .select(
                F.from_json("partition_json", "map<string,string>").alias(
                    "partition"
                ),
                "partition_json",
                "n_files",
                "rows",
                "dv_rows",
                "live_rows",
            )
        )

    def truncate(self, spark: SparkSession | None = None) -> int:
        """DELETE every row as a METADATA-ONLY commit — the new
        version references ZERO files; schema, partition spec, and
        every table property (constraints, blooms, rename map,
        tombstones, stream ledger) carry forward, so the table is
        ready for fresh loads under the same contract. No data file is
        read, written, or removed: at 100 TB this is one manifest link
        where a ``delete_where(true)`` copy-on-write would rewrite
        nothing but still scan for hits — the old files become
        unreferenced and ``vacuum`` reclaims them (time travel to
        pre-truncate versions keeps working until then). Delta's
        TRUNCATE TABLE shape. ``spark`` is only needed for a
        pre-evolution manifest (schema recovered from the files)."""

        def attempt() -> int:
            base = self.latest_version()
            if base is None:
                raise FileNotFoundError(f"no committed version at {self.path}")
            man = self._read_manifest(base)
            schema = self._manifest_schema(man)
            if schema is None:
                if spark is None:
                    raise ValueError(
                        "truncate on a pre-evolution manifest needs the "
                        "spark argument (schema recovered from the files)"
                    )
                schema = self.snapshot(spark, base).schema
            return self._commit(
                [], schema, man["partition_by"] or None, base, {"op": "truncate"}
            )

        return self._with_commit_retries(attempt)

    def drop(self) -> None:
        """DROP the table: delete its directory — manifests, data
        files, DV/bloom sidecars, everything under ``self.path`` —
        plus the control plane held by a non-filesystem store.
        Guarded: the path must actually BE a manifest table (at least
        one committed version), so a mistyped path can never rmtree an
        arbitrary directory. Unrecoverable by design (Delta's DROP
        TABLE on an external location is the same contract: no
        time travel survives the log's deletion). Shallow clones of
        this table break — the documented clone hazard, same as
        vacuuming the clone source."""
        if self.latest_version() is None:
            raise FileNotFoundError(
                f"DROP TABLE: {self.path!r} has no committed version — not "
                "a manifest table (refusing to delete an arbitrary "
                "directory)"
            )
        import shutil

        for name in self.store.list_dir(_MANIFEST_DIR):
            self.store.delete(os.path.join(_MANIFEST_DIR, name))
        shutil.rmtree(self.path, ignore_errors=True)

    def detail_df(self, spark: SparkSession) -> DataFrame:
        """One-row table detail — the DESCRIBE DETAIL shape: location,
        current version, file/row rollups (from the manifest's commit
        rollups, no file I/O), partition spec, and the guard
        properties (constraints, bloom columns, rename map)."""
        base = self.latest_version()
        if base is None:
            raise FileNotFoundError(f"no committed version at {self.path}")
        raw = self._read_raw_manifest(base)
        man = self._read_manifest(base) if "n_files" not in raw else raw
        row = (
            self.path,
            int(base),
            man.get("committed_at"),
            int(man["n_files"] if "n_files" in man else len(man["files"])),
            int(self.row_count(base)),
            json.dumps(man.get("partition_by") or []),
            json.dumps(man.get("bloom_cols") or []),
            json.dumps(man.get("constraints") or {}, sort_keys=True),
            json.dumps(man.get("column_map") or {}, sort_keys=True),
            json.dumps(man.get("properties") or {}, sort_keys=True),
        )
        return spark.createDataFrame(
            [row],
            "location string, version long, committed_at string, "
            "n_files long, rows long, partition_by string, "
            "bloom_cols string, constraints string, column_map string, "
            "properties string",
        )

    def history_df(self, spark: SparkSession) -> DataFrame:
        """``history()`` as a DataFrame — the DESCRIBE HISTORY shape
        (version, committed_at, operation op/detail, n_files, rows)."""
        rows = [
            (
                h["version"],
                h.get("base_version"),
                h.get("committed_at"),
                (h.get("operation") or {}).get("op"),
                json.dumps(h.get("operation") or {}, sort_keys=True),
                h["n_files"],
                h["rows"],
            )
            for h in self.history()
        ]
        return spark.createDataFrame(
            rows,
            "version long, base_version long, committed_at string, "
            "op string, operation_json string, n_files long, rows long",
        )

    def history(self) -> list[dict]:
        """Audit trail from the manifests: one row per retained
        version with its operation tag, file count, and footer row
        total — the reference's per-row audit log
        (load_sales_data.py:130-133) replaced by commit-level lineage
        that costs one JSON read per version, no data I/O."""
        out = []
        for v in self.versions():
            man = self._read_raw_manifest(v)
            if "n_files" not in man or "live_rows" not in man:
                # pre-rollup manifest: resolve and count the old way
                man = dict(self._read_manifest(v))
                man.setdefault("n_files", len(man["files"]))
                man.setdefault(
                    "live_rows",
                    sum((e.get("rows") or 0) - _dv_count(e) for e in man["files"]),
                )
            out.append(
                {
                    "version": v,
                    "base_version": man.get("base_version"),
                    "committed_at": man.get("committed_at"),
                    "operation": man.get("operation") or {},
                    "n_files": int(man["n_files"]),
                    # live rows: physical footer counts minus dv'd
                    # positions (inline + sidecar, via dv_rows) —
                    # rolled up at commit time, one raw read per row
                    "rows": int(man["live_rows"]),
                    "partition_by": man.get("partition_by") or [],
                }
            )
        return out

    def restore(self, spark: SparkSession, version: int) -> int:
        """Roll the table back to ``version`` by committing its file
        list as a NEW version (history is append-only — a bad commit is
        undone by a commit, never by deleting manifests, so concurrent
        readers and the version audit trail stay intact; the Delta
        RESTORE shape). Metadata-only: no data file is read or written.
        Returns the new version number."""
        man = self._read_manifest(version)  # raises if version unknown
        schema = self._manifest_schema(man)
        if schema is None:
            schema = self.snapshot(spark, version).schema

        def attempt() -> int:
            return self._commit(
                man["files"],
                schema,
                man["partition_by"] or None,
                self.latest_version(),
                {"op": "restore", "restored_version": version},
                bloom_cols=man.get("bloom_cols"),
                # the restored schema's names only resolve through the
                # restored version's own mapping ({} for none — the
                # LATEST version's map must not leak onto old fields);
                # same for the partition-spec history: the restored
                # file list was laid out under the restored version's
                # specs, not whatever evolved afterwards
                column_map=man.get("column_map") or {},
                partition_specs=[
                    list(s) for s in (man.get("partition_specs") or [])
                ],
            )

        return self._with_commit_retries(attempt)

    # -- maintenance --------------------------------------------------

    def vacuum_dry_run(
        self, keep_last: int = 1, grace_seconds: float = 3600.0
    ) -> list[str]:
        """What ``vacuum`` WOULD delete (data-dir-relative paths),
        without touching anything — Delta's ``VACUUM … DRY RUN``. The
        same retention and in-flight-grace rules apply, so the listing
        is exactly the reclaim set of a vacuum run at this moment."""
        return self.vacuum(keep_last, grace_seconds, _dry_run=True)

    def vacuum(
        self,
        keep_last: int = 1,
        grace_seconds: float = 3600.0,
        _dry_run: bool = False,
    ) -> int:
        """Delete data files referenced by no retained manifest and
        drop manifests older than the newest ``keep_last``. Run only
        when no reader still holds a snapshot older than the horizon
        (the same contract as Delta's VACUUM). DV sidecar directories
        referenced by no retained manifest are reclaimed too. Returns
        data files deleted.

        ``grace_seconds`` protects the write protocol's intentional
        write-before-publish window (the same contract as
        ``TransactionalCatalog.vacuum`` and the files_ref sidecar
        reclaim below): every commit shape — library writes, the
        data source writers, merge's DV sidecars — lands its
        data/DV/bloom files BEFORE linking the manifest that
        references them, so an unreferenced file younger than the
        grace may belong to an in-flight commit and is never touched.
        Files referenced by a DROPPED manifest are provably dead
        (they were published, then superseded) and reclaim
        immediately regardless of age."""
        import shutil
        import time as _time

        now = _time.time()
        vs = self.versions()
        keep_vs = vs[-keep_last:] if keep_last > 0 else vs
        dropped_vs = vs[: -keep_last] if keep_last > 0 else []
        live = set()
        live_refs: set[str] = set()
        live_blooms: set[str] = set()
        for v in keep_vs:
            for entry in self._read_manifest(v)["files"]:
                live.add(entry["path"])
                live_refs.update(entry.get("dv_ref") or [])
                if entry.get("bloom_ref"):
                    live_blooms.add(entry["bloom_ref"])
        dead = set()
        dead_refs: set[str] = set()
        dead_blooms: set[str] = set()
        for v in dropped_vs:
            for entry in self._read_manifest(v)["files"]:
                dead.add(entry["path"])
                dead_refs.update(entry.get("dv_ref") or [])
                if entry.get("bloom_ref"):
                    dead_blooms.add(entry["bloom_ref"])

        def _expired(full: str) -> bool:
            try:
                return now - os.path.getmtime(full) >= grace_seconds
            except OSError:
                return False  # concurrently removed: nothing to do

        deleted = 0
        would: list[str] = []
        for root, _dirs, names in os.walk(self.data_dir):
            for name in names:
                full = os.path.join(root, name)
                rel = os.path.relpath(full, self.data_dir)
                if name.endswith(".parquet") and rel not in live:
                    if rel not in dead and not _expired(full):
                        continue  # possible in-flight commit
                    if _dry_run:
                        would.append(rel)
                        continue
                    os.unlink(full)
                    deleted += 1
        if _dry_run:
            return sorted(would)
        # keep_last <= 0 retains every version's files above — retain
        # their manifests too (deleting all manifests would leave data
        # with zero committed versions)
        if keep_last > 0 and vs[:-keep_last]:
            # the oldest retained version may be a delta whose base
            # chain is about to be dropped: materialize it first so
            # every retained version stays resolvable
            self._materialize_manifest(keep_vs[0])
            for v in vs[:-keep_last]:
                self.store.delete(os.path.join(_MANIFEST_DIR, _manifest_name(v)))
        # manifest parquet sidecars (files_ref checkpoints): reclaim
        # any not referenced by a manifest that still exists — dropped
        # checkpoints orphan theirs, and so does a LOSING optimistic
        # commit attempt. A one-hour mtime grace (same contract as
        # TransactionalCatalog.vacuum) protects an in-flight attempt
        # that has written its sidecar but not yet published.
        live_file_refs = {
            ref
            for v in self.versions()
            if (ref := self._read_raw_manifest(v).get("files_ref"))
        }
        for name in self.store.list_dir(_MANIFEST_DIR):
            rel = os.path.join(_MANIFEST_DIR, name)
            if (
                name.startswith("files-")
                and name.endswith(".parquet")
                and name not in live_file_refs
            ):
                try:
                    if now - self.store.mtime(rel) < grace_seconds:
                        continue
                except FileNotFoundError:
                    continue  # concurrently removed
                self.store.delete(rel)
        dv_root = os.path.join(self.path, _DV_DIR)
        if os.path.isdir(dv_root):
            for name in os.listdir(dv_root):
                ref = os.path.join(_DV_DIR, name)
                full = os.path.join(dv_root, name)
                if ref in live_refs:
                    continue
                if ref not in dead_refs and not _expired(full):
                    continue  # possible in-flight merge commit
                shutil.rmtree(full)
        # bloom sidecars are referenced at file granularity; drop the
        # dead parts, then any commit dir left empty
        bloom_root = os.path.join(self.path, _BLOOM_DIR)
        if os.path.isdir(bloom_root):
            for root, _dirs, names in os.walk(bloom_root, topdown=False):
                for name in names:
                    full = os.path.join(root, name)
                    rel = os.path.relpath(full, self.path)
                    if rel in live_blooms:
                        continue
                    if rel not in dead_blooms and not _expired(full):
                        continue  # possible in-flight commit
                    os.unlink(full)
                if root != bloom_root and not os.listdir(root):
                    os.rmdir(root)
        # prune now-empty data subdirectories
        for root, dirs, names in os.walk(self.data_dir, topdown=False):
            if root != self.data_dir and not dirs and not names:
                os.rmdir(root)
        return deleted


def merge_upsert_source_only(
    source: DataFrame, keys: Sequence[str], order_col: str | None
) -> DataFrame:
    """Merge semantics when every touched file is new: dedup the source."""
    from etl_job_spark.operators.merge import dedup_last_writer

    out = dedup_last_writer(source, keys, order_col) if order_col else source
    return out.drop(order_col) if order_col and order_col in out.columns else out
