"""HDF5/NeXus source (SURVEY §2.1 S6-S7): hierarchical file -> per-file map.

The reference opens each NeXus file and reads datasets at schema-given
paths, with `units` attrs and wildcard path segments
(/root/reference/src/scicat_nexus_helper.py:62-95,
/root/reference/src/scicat_dataset.py:285-324, recursion :430-458).

Spark-first: ONE reader loop, ``scan_files_wide``, flattens each file
once into
    (file STRING, nxs MAP<h5_path, STRUCT<value, unit>>)
via ``mapInPandas`` over a DataFrame of file paths (the scan runs next to
the data; no driver I/O). The NXS resolver reads variables straight from
the map, wildcard paths included. ``scan_files`` explodes the map into
the long relation ``(file, h5_path, value, unit)``, where wildcard path
expansion is ``rlike`` + ``collect_list`` — pure relational ops.

Reader fallback chain (per file): h5py when installed -> the pure-python
``hdf5lite`` reader for files that exist on disk (covers real NeXus files
like /root/reference/test-data/*.hdf in environments without h5py) -> a
deterministic fake tree (keyed on md5 of the file path) for synthetic
paths, exercising the identical plumbing, schema and wildcard semantics.

Retry/backoff for not-yet-closed files (reference clamps delay to
[1,120] s, /root/reference/src/scicat_nexus_helper.py:70-75) lives inside
the reader function — per-task, complementing Spark's task retries.
"""

from __future__ import annotations

import hashlib
import re
import time
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

LONG_SCHEMA = "file string, h5_path string not null, value string, unit string"


def try_import_h5py():
    try:  # pragma: no cover - not installed here
        import h5py  # type: ignore

        return h5py
    except ImportError:
        return None


def _clamp_delay(delay: float) -> float:
    """Reference clamps retry delay to [1, 120] s
    (/root/reference/src/scicat_nexus_helper.py:70-75)."""
    return min(max(delay, 1.0), 120.0)


def resolve_retry_delays(
    delays: float | list[float] | tuple[float, ...] | None,
    max_tries: int,
    default: float = 3.0,
) -> list[float]:
    """Per-attempt delay schedule with the reference's fill/truncate
    semantics (/root/reference/src/scicat_configuration.py:296-309 and
    scicat_nexus_helper.py:63-87): each entry clamped to [1, 120] s;
    empty/None -> the 3 s default for every retry; shorter than
    max_tries -> extended with the last value; longer -> excess
    truncated. A scalar is a one-element list (back-compat)."""
    if delays is None:
        seq: list[float] = []
    elif isinstance(delays, (list, tuple)):
        seq = [float(d) for d in delays]
    else:
        seq = [float(delays)]
    resolved = [_clamp_delay(d) for d in seq]
    if not resolved:
        resolved = [_clamp_delay(default)] * max_tries
    elif len(resolved) < max_tries:
        resolved = resolved + [resolved[-1]] * (max_tries - len(resolved))
    return resolved[:max_tries]


def _normalize_h5_value(value):
    """Shared value normalization for both walkers: decode bytes, turn
    array-likes into plain Python lists (with bytes elements decoded) so
    ``str(value)`` is identical whether the row came from h5py (numpy
    scalars/arrays) or hdf5lite (python scalars/lists). Without this the
    pinned oracles for ``s6_real_nexus_scan`` / ``ingest_real_files_e2e``
    — which encode the hdf5lite rendering — would silently break the day
    h5py appears in the environment."""
    if isinstance(value, bytes):
        return value.decode("utf-8", errors="replace")
    if hasattr(value, "tolist"):  # numpy scalar or array
        value = value.tolist()
    if isinstance(value, list):
        return [
            v.decode("utf-8", errors="replace") if isinstance(v, bytes) else v
            for v in value
        ]
    return value


def _walk_h5(
    path: str,
    max_tries: int = 3,
    retry_delay: float | list[float] = 3.0,
    max_elements: int = 65536,
):
    """Real walker (requires h5py): yield (h5_path, value, unit).

    ``retry_delay`` may be a per-attempt list (T6,
    /root/reference/src/scicat_nexus_helper.py:63-95): attempt i sleeps
    schedule[i] before retrying; like the reference, the first open plus
    max_tries retries.

    Emits the SAME rows as ``_walk_hdf5lite`` for the same file: the
    ``max_elements`` dataspace skip guards against stringifying GB-scale
    event arrays, and values go through ``_normalize_h5_value`` so numpy
    rendering never diverges from the pure-python reader."""
    h5py = try_import_h5py()
    if h5py is None:
        raise ImportError("h5py not available; use fake_tree rows")
    schedule = resolve_retry_delays(retry_delay, max_tries)
    last_err = None
    for attempt in range(max_tries + 1):
        if attempt:
            time.sleep(schedule[attempt - 1])
        try:
            f = h5py.File(path, "r")
            break
        except OSError as e:  # file still being written
            last_err = e
    else:
        raise last_err

    def visit(name, obj):
        if isinstance(obj, h5py.Dataset):
            if obj.size is not None and obj.size > max_elements:
                return  # bulk data array, not metadata
            value = _normalize_h5_value(obj[()])
            unit = obj.attrs.get("units", b"")
            if isinstance(unit, bytes):
                unit = unit.decode("utf-8", errors="replace")
            rows.append(("/" + name, str(value), str(unit)))

    rows: list[tuple] = []
    with f:
        f.visititems(visit)
    return rows


def _walk_hdf5lite(
    path: str,
    max_tries: int = 3,
    retry_delay: float | list[float] = 3.0,
    max_elements: int = 65536,
) -> list[tuple[str, str, str]]:
    """Pure-python walker (no h5py): same output rows as ``_walk_h5``,
    same retry schedule semantics, reading via ``hdf5lite``.

    Datasets larger than ``max_elements`` are skipped: raw NeXus files
    put GB-scale event arrays next to the KB-scale metadata the
    ingestor reads (the reference only ever reads schema-named metadata
    paths, /root/reference/src/scicat_dataset.py:285-324), and
    stringifying bulk data into the long table would be both useless
    and fatal at scale. The file itself is mmap'd, so skipped datasets
    cost nothing."""
    from scicat_ingestor_spark.sources import hdf5lite

    def visit(name, obj):
        if isinstance(obj, hdf5lite.Dataset):
            if obj.npoints() > max_elements:
                return  # bulk data array, not metadata
            value = _normalize_h5_value(obj[()])
            unit = obj.attrs.get("units", b"")
            if isinstance(unit, bytes):
                unit = unit.decode("utf-8", errors="replace")
            rows.append(("/" + name, str(value), str(unit)))

    schedule = resolve_retry_delays(retry_delay, max_tries)
    last_err: Exception | None = None
    for attempt in range(max_tries + 1):
        if attempt:
            time.sleep(schedule[attempt - 1])
        rows: list[tuple] = []
        try:
            # The whole open+walk is one attempt: a file still being
            # written either fails the open (OSError) or parses partway
            # and raises Hdf5LiteError from a lazy dataset read inside
            # the walk — both get the backoff schedule; after the final
            # attempt the error propagates so a genuinely malformed file
            # lands in the failure channel (V3/T4).
            with hdf5lite.File(path) as f:
                f.visititems(visit)
            return rows
        except (OSError, hdf5lite.Hdf5LiteError) as e:
            last_err = e
    raise last_err  # type: ignore[misc]


def read_rows(
    path: str,
    max_tries: int = 3,
    retry_delay: float | list[float] = 3.0,
) -> list[tuple[str, str, str]]:
    """S6 per-file reader with the fallback chain
    h5py -> hdf5lite (file exists) -> fake tree (synthetic path).

    Parse errors on real files propagate — a malformed file must land in
    the failure channel (V3/T4), not silently turn into fake data."""
    import os

    if try_import_h5py() is not None:
        return _walk_h5(path, max_tries=max_tries, retry_delay=retry_delay)
    if os.path.exists(path):
        return _walk_hdf5lite(path, max_tries=max_tries, retry_delay=retry_delay)
    return fake_tree(path)


def fake_tree(path: str) -> list[tuple[str, str, str]]:
    """Deterministic NeXus-shaped tree for environments without h5py.

    Mirrors the reference's test fixture shape
    (/root/reference/tests/conftest.py:13-43): /entry/* scalars with
    units, wildcard-matchable user_* groups and detector channels.
    """
    seed = hashlib.md5(path.encode()).hexdigest()
    n = int(seed[:8], 16)
    return [
        ("/entry/title", f"run {n % 1000}", ""),
        ("/entry/sample/name", f"sample-{n % 50}", ""),
        ("/entry/experiment_identifier", f"prop-{n % 20}", ""),
        ("/entry/instrument/name", f"instr-{n % 5}", ""),
        ("/entry/sensor/temperature", str(round(200 + (n % 1000) / 10.0, 1)), "K"),
        ("/entry/sensor/pressure", str(round(1 + (n % 97) / 100.0, 2)), "bar"),
        ("/entry/user_alice/name", f"alice-{n % 7}", ""),
        ("/entry/user_bob/name", f"bob-{n % 11}", ""),
        ("/entry/detector/channel_0/counts", str(n % 10_000), "counts"),
        ("/entry/detector/channel_1/counts", str((n // 7) % 10_000), "counts"),
    ]


WIDE_SCHEMA = "file string, nxs map<string, struct<value: string, unit: string>>"


def scan_files_wide(files_df: DataFrame, path_col: str = "file") -> DataFrame:
    """The S6 scan: DataFrame[file] -> (file, nxs MAP<h5_path,
    STRUCT<value,unit>>), via mapInPandas — the ingest hot path.

    One task per partition of file paths; each file is opened exactly
    once regardless of how many variables read from it (the reference
    re-reads per variable; scanning once is the columnar win). Every row
    of one file comes from the same reader call, so the per-file map is
    built inside the scan: no shuffle, no long table.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            files, maps = [], []
            for path in pdf[path_col]:
                rows = read_rows(path)
                files.append(path)
                maps.append({p: {"value": v, "unit": u} for p, v, u in rows})
            yield pd.DataFrame({"file": files, "nxs": maps})

    return files_df.mapInPandas(run, schema=WIDE_SCHEMA)


def scan_files(files_df: DataFrame, path_col: str = "file") -> DataFrame:
    """The long relation ``(file, h5_path, value, unit)``: the wide scan's
    map exploded — the relational view for wildcard lookups and ad-hoc
    queries. A file with no datasets has no rows."""
    return (
        scan_files_wide(files_df, path_col)
        .select("file", F.explode("nxs").alias("h5_path", "vu"))
        .select("file", "h5_path", "vu.value", "vu.unit")
    )


def compile_wildcard(path_pattern: str) -> str:
    """S7: compile an imsc path pattern to an anchored regex.

    Per reference semantics (/root/reference/src/scicat_dataset.py:295-324):
    '*' segment -> any one segment; other segments are re.search'd as
    regexes against group names (so a plain segment matches itself).
    """
    parts = path_pattern.split("/")
    compiled = []
    for p in parts:
        if p == "*":
            compiled.append("[^/]+")
        elif p == "":
            compiled.append("")
        else:
            # segment is itself a regex fragment, searched within the name
            compiled.append(f"[^/]*{p}[^/]*" if not _is_literal(p) else re.escape(p))
    return "^" + "/".join(compiled) + "$"


def _is_literal(segment: str) -> bool:
    return not any(c in segment for c in ".^$*+?[](){}|\\")


def make_nxs_resolver(map_col: str = "nxs"):
    """SourceResolver for NXS variables over the ``scan_files_wide`` map column.

    Reference semantics (/root/reference/src/scicat_dataset.py:295-324):
    - value_type 'string[]' + '*' in path -> wildcard selector: all
      matching datasets, path-sorted; NO attr unit (config unit applies).
    - otherwise exact path read; unit from the 'units' attr; the config
      unit applies only when the attr is absent (:311-314).
    Missing path -> NULL value -> lands in the _failures channel (V3).
    """
    from scicat_ingestor_spark.functions.scalar import with_unit

    def resolve(var) -> Column:
        if var.path is None:
            raise ValueError(f"NXS variable {var.name!r} needs a path")
        m = F.col(map_col)
        # any array type: the reference's selector branch applies to '[]'
        # types, the per-element cast happens downstream (V6)
        if "*" in var.path and var.value_type.endswith("[]"):
            pattern = compile_wildcard(var.path)
            matched = F.array_sort(
                F.filter(
                    F.map_entries(m),
                    lambda e: e.getField("key").rlike(pattern),
                )
            )
            # map_entries normalizes entry fields to (key, value)
            values = F.transform(
                matched, lambda e: e.getField("value").getField("value")
            )
            return with_unit(values, F.lit(""))
        # h5py resolves root-relative paths ('entry/title') same as
        # absolute ones — the reference's fallback schema relies on that
        # (/root/reference/src/fallback_metadata_schema/dump.py:52-56)
        path = var.path if var.path.startswith("/") else "/" + var.path
        entry = F.element_at(m, path)
        return with_unit(entry.getField("value"), entry.getField("unit"))

    return resolve


def lookup(long_df: DataFrame, path_pattern: str) -> DataFrame:
    """Wildcard lookup on the long table: returns
    (file, values ARRAY<STRING>, unit) with deterministic path ordering
    and the unit-consensus rule applied across matches."""
    pattern = compile_wildcard(path_pattern)
    matched = long_df.filter(F.col("h5_path").rlike(pattern))
    return matched.groupBy("file").agg(
        F.array_sort(
            F.collect_list(F.struct("h5_path", "value"))
        ).alias("_pv"),
        F.when(
            F.size(F.collect_set("unit")) == 1, F.first("unit")
        ).otherwise(F.lit("")).alias("unit"),
    ).select(
        "file",
        F.transform(F.col("_pv"), lambda s: s.getField("value")).alias("values"),
        "unit",
    )
