#!/usr/bin/env python3
"""Local stand-in for the driver's t2 correctness gate: run every
queries() entry on Spark and its oracle_sql() twin on DuckDB over the
same parquet tables; compare row count, column names, and
order-insensitive values.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(round(v, 9))
    return str(v)


def rowset(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm(r[i]) for i in idx) for r in rows)


def canon_type(t):
    """Canonical label for an Arrow type, distinguishing the kinds a
    typed value-hash distinguishes (int64 vs HUGEINT/decimal, float32 vs
    float64) while ignoring benign variants (string vs large_string,
    timestamp units)."""
    import pyarrow as pa

    if pa.types.is_integer(t):
        return "int" if t.bit_width <= 64 else "int128"
    if pa.types.is_decimal(t):
        return f"decimal({t.precision},{t.scale})"
    if pa.types.is_floating(t):
        return "f32" if t.bit_width == 32 else "f64"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "str"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "bin"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_timestamp(t):
        return "ts"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{canon_type(t.value_type)}>"
    if pa.types.is_struct(t):
        inner = ",".join(
            f"{t.field(i).name}:{canon_type(t.field(i).type)}" for i in range(t.num_fields)
        )
        return f"struct<{inner}>"
    return str(t)


def type_mismatches(spark_tbl, oracle_tbl):
    """Column-name-matched canonical-type diffs between two Arrow tables.
    The driver's correctness gate hashes TYPED values, so e.g. a DuckDB
    HUGEINT sum() vs a Spark BIGINT sum hash-mismatches even when every
    value compares equal — this catches that class locally."""
    stypes = {f.name: canon_type(f.type) for f in spark_tbl.schema}
    otypes = {f.name: canon_type(f.type) for f in oracle_tbl.schema}
    return [
        (c, stypes[c], otypes[c])
        for c in sorted(set(stypes) & set(otypes))
        if stypes[c] != otypes[c]
    ]


def _chunked_main(sf_dir: str, chunk: int, only: set) -> None:
    """Round-gate mode (VERDICT r5 task 6): run the whole registry at a
    bigger SF in chunks of ``chunk`` queries, each in a FRESH python/JVM
    subprocess — one long session at sf0.1 accumulates broadcast blocks
    and plan caches across ~125 queries; per-chunk isolation keeps the
    sweep's memory flat and one chunk's crash from masking the rest."""
    import subprocess

    import __spark_entry__ as entrymod

    names = sorted(only or entrymod.queries())
    chunks = [names[i : i + chunk] for i in range(0, len(names), chunk)]
    n_pass = 0
    failed: list[str] = []
    for i, batch in enumerate(chunks):
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), sf_dir, *batch],
            capture_output=True,
            text=True,
        )
        for line in proc.stdout.splitlines():
            line = line.rsplit("\r", 1)[-1]
            if line.startswith(("PASS", "FAIL", "SKIP")):
                print(line)
                if line.startswith("PASS"):
                    n_pass += 1
                elif line.startswith("FAIL"):
                    failed.append(line.split()[1].rstrip(":"))
        if proc.returncode != 0 and not any(
            line.startswith("FAIL") for line in proc.stdout.splitlines()
        ):
            print(f"FAIL chunk {i}: subprocess died rc={proc.returncode}")
            print(proc.stderr[-2000:])
            failed.append(f"chunk{i}")
        print(f"-- chunk {i + 1}/{len(chunks)} done ({n_pass} passed so far)")
    print(f"\n{n_pass} passed, {len(failed)} failures"
          + (f": {failed}" if failed else ""))
    sys.exit(1 if failed else 0)


def main():
    args = list(sys.argv[1:])
    chunk = 0
    if "--chunk" in args:
        i = args.index("--chunk")
        if i + 1 >= len(args):
            sys.exit("--chunk needs a value")
        chunk = int(args[i + 1])
        del args[i : i + 2]
    sf_flag = None
    if "--sf" in args:
        i = args.index("--sf")
        if i + 1 >= len(args):
            sys.exit("--sf needs a value")
        sf_flag = f"/root/testdata/sf{args[i + 1]}"
        del args[i : i + 2]
    # a positional sf_dir and --sf together would silently turn the
    # positional into a never-matching query filter — a gate that
    # passes while checking nothing; reject the ambiguity instead
    if sf_flag is not None and args and args[0].startswith("/"):
        sys.exit("give either a positional sf_dir or --sf, not both")
    if sf_flag is not None:
        args.insert(0, sf_flag)
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    only = set(args[1:])

    import __spark_entry__ as entrymod

    unknown = only - set(entrymod.queries())
    if unknown:
        # same false-green class: a typo'd query name must not yield
        # an empty, passing run
        sys.exit(f"unknown query name(s): {sorted(unknown)}")
    if chunk:
        _chunked_main(sf_dir, chunk, only)
        return

    import duckdb

    import __spark_entry__ as entrymod
    from scicat_ingestor_spark.queries import missing_inputs
    from scicat_ingestor_spark.session import get_session

    spark = get_session("check_oracle")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    if sf_dir.rstrip("/") != "/root/testdata/sf0.01":
        # the file-stats oracle embeds real stat/digest values, computed
        # at import for the driver's sf0.01 gate; regenerate for other
        # dirs so cross-SF runs stay meaningful
        from scicat_ingestor_spark.oracles import _file_stats_oracle

        oracles["s8_s9_file_stats"] = _file_stats_oracle(sf_dir.rstrip("/"))
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        missing = missing_inputs(name)
        if missing:
            print(f"SKIP {name}: missing inputs: {', '.join(missing)}")
            continue
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            stbl = sdf.toArrow()
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: spark error: {e}")
            continue
        if name not in oracles:
            print(f"SKIP {name}: no oracle (rows-only: {len(srows)} rows)")
            continue
        try:
            res = con.sql(oracles[name])
            ocols = [c for c in res.columns]
            otbl = con.sql(oracles[name]).arrow()
            orows = res.fetchall()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {e}")
            continue
        if sorted(scols) != sorted(ocols):
            failures.append(name)
            print(f"FAIL {name}: columns spark={sorted(scols)} oracle={sorted(ocols)}")
            continue
        if len(srows) != len(orows):
            failures.append(name)
            print(f"FAIL {name}: rowcount spark={len(srows)} oracle={len(orows)}")
            continue
        a = rowset(scols, srows)
        b = rowset(ocols, orows)
        if a != b:
            failures.append(name)
            diffs = [(x, y) for x, y in zip(a, b) if x != y][:3]
            print(f"FAIL {name}: values differ; first diffs: {diffs}")
            continue
        tdiffs = type_mismatches(stbl, otbl)
        if tdiffs:
            failures.append(name)
            print(f"FAIL {name}: arrow type mismatch (driver hashes typed values): {tdiffs}")
            continue
        print(f"PASS {name} ({len(srows)} rows)")

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
