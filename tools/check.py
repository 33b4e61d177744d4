#!/usr/bin/env python3
"""Local emulation of the driver's t2 correctness gate.

Usage: python3 tools/check.py [sfdir] [outdir] [--skip-verify] [names...]

1. Runs graft.Verify (unless --skip-verify) to dump each SparkEntry query
   to parquet + oracle_sql.json.
2. Registers the sf tables in DuckDB, runs each oracle SQL.
3. Compares: schema (column names), row count, and value hash with columns
   sorted by name and rows sorted — mirroring the described driver compare.

Dev tool only — not part of the shipped library.
"""
import json, math, subprocess, sys, os, shutil, tempfile
import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # kill -0.0 and represent with repr (full precision)
        if v == 0:
            v = 0.0
        return repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    try:
        import datetime
        if isinstance(v, datetime.datetime):
            return v.isoformat()
        if isinstance(v, datetime.date):
            return v.isoformat()
    except Exception:
        pass
    if isinstance(v, (int,)):
        return str(v)
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    try:
        import decimal
        if isinstance(v, decimal.Decimal):
            return repr(float(v))
    except Exception:
        pass
    return str(v)


def type_family(t):
    """Normalized arrow-type family. Widths within a family are equivalent
    (int32 vs int64 hash identically under the driver's stringification),
    but families are NOT (DuckDB HUGEINT arrives as decimal128 and
    stringifies as a float — the q34/q37/q59 bug class)."""
    if pa.types.is_dictionary(t):
        return type_family(t.value_type)
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_decimal(t):
        # Decimals stringify like floats under the driver's hash (1 → "1.0"),
        # so decimal-vs-float matches and decimal-vs-int (the HUGEINT sum
        # bug) fails — exactly the driver's observed behavior.
        return "float"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "binary"
    if pa.types.is_list(t) or pa.types.is_large_list(t) \
            or pa.types.is_fixed_size_list(t):
        return f"list<{type_family(t.value_type)}>"
    if pa.types.is_struct(t):
        return "struct<" + ",".join(
            f"{f.name}:{type_family(f.type)}" for f in t) + ">"
    return str(t)


def arrow_cols_rows(tb):
    cols = tb.column_names
    fams = [type_family(tb.schema.field(i).type) for i in range(len(cols))]
    rows = list(zip(*[tb.column(c).to_pylist() for c in cols])) if cols else []
    return cols, fams, rows


def canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(norm_cell(r[i]) for i in order))
    out.sort()
    return [cols[i] for i in order], out


# ---- parallel compare workers ---------------------------------------
# One DuckDB connection per worker process (connections aren't picklable);
# each is capped at 2 threads so a 16-process pool doesn't oversubscribe
# the box (DuckDB defaults to all cores per connection).
_CON = None
_OUTDIR = None

# DuckDB spills to <cwd>/.tmp by default, with no cap but the free disk:
# one runaway oracle once filled the disk with 19 GB and segfaulted its
# worker, breaking the pool. Each worker spills to its own directory
# under the run's scratch directory instead, capped at its share of this
# budget, so such a query fails alone with DuckDB's out-of-temp-space
# error and the other compares go on.
TEMP_BUDGET_GB = 8


def _init_worker(sfdir, outdir, scratch, temp_gb, threads=2):
    global _CON, _OUTDIR
    _CON = duckdb.connect()
    _CON.execute("SET TimeZone='UTC'")
    _CON.execute(f"SET temp_directory='{scratch}/{os.getpid()}'")
    _CON.execute(f"SET max_temp_directory_size='{temp_gb}GiB'")
    # 2 threads per pooled worker (16 workers share the box); the
    # serial targeted path keeps DuckDB's all-cores default so a single
    # heavy oracle (q293's unrolled recount) isn't throttled
    if threads:
        _CON.execute(f"SET threads={threads}")
    for t in TABLES:
        _CON.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")
    _OUTDIR = outdir


def _board(schema_m, rows_m, hash_m, spark_rows, oracle_rows, err=None):
    """Driver-exact per-query record (CORRECTNESS_r10.json schema) so an
    empty driver-side board is mechanically backfillable field-for-field."""
    return {"rows_match": rows_m, "schema_match": schema_m,
            "hash_match": hash_m, "spark_rows": spark_rows,
            "oracle_rows": oracle_rows, "err": err}


def _compare_one(item):
    """Returns (name, status, printable message, driver-schema board entry)."""
    name, sql = item
    pdir = f"{_OUTDIR}/{name}"
    if not os.path.isdir(pdir):
        return name, "missing", f"MISSING  {name} (no parquet output)", \
            _board(False, False, False, None, None, "no parquet output")
    try:
        scols, sfams, srows = arrow_cols_rows(pq.read_table(pdir))
        # fetch_arrow_table (NOT fetchall): keeps DuckDB's types visible —
        # HUGEINT→decimal128, so an uncast integer sum fails here exactly
        # as it does under the driver's arrow-level hash.
        dcols, dfams, drows = arrow_cols_rows(
            _CON.sql(sql).fetch_arrow_table())
    except Exception as e:
        tag = "TEMPFULL" if "max_temp_directory_size" in str(e) else "ERROR   "
        return name, f"error: {str(e)[:200]}", f"{tag} {name}: {e}", \
            _board(False, False, False, None, None, str(e)[:500])
    sc, sr = canon(scols, srows)
    dc, dr = canon(dcols, drows)
    nrows = (len(sr), len(dr))
    sfam = [f for _, f in sorted(zip(scols, sfams))]
    dfam = [f for _, f in sorted(zip(dcols, dfams))]
    if sc != dc:
        return name, "schema", f"SCHEMA   {name}: spark={sc} duck={dc}", \
            _board(False, nrows[0] == nrows[1], False, *nrows)
    if sfam != dfam:
        diffs = [f"{c}: spark={a} duck={b}"
                 for c, a, b in zip(sc, sfam, dfam) if a != b]
        # Column NAMES agree, so schema_match stays True: the driver's
        # compare sorts columns by name and hashes stringified values —
        # its schema check is name-level, and a type-family divergence
        # surfaces as the hash miss. The err field carries the diff so a
        # backfilled board self-describes WHY the hash missed instead of
        # leaving hash_match as the only signal (ADVICE r13).
        return name, "type", f"TYPE     {name}: " + "; ".join(diffs), \
            _board(True, nrows[0] == nrows[1], False, *nrows,
                   "type families differ: " + "; ".join(diffs)[:400])
    if len(sr) != len(dr):
        return name, "rowcount", \
            f"ROWCOUNT {name}: spark={len(sr)} duck={len(dr)}", \
            _board(True, False, False, *nrows)
    if sr != dr:
        bad = next(i for i, (a, b) in enumerate(zip(sr, dr)) if a != b) \
            if sr and dr else 0
        msg = (f"VALUES   {name}: first diff row {bad}:\n"
               f"  cols : {sc}\n"
               f"  spark: {sr[bad] if bad < len(sr) else '<none>'}\n"
               f"  duck : {dr[bad] if bad < len(dr) else '<none>'}")
        return name, "values", msg, _board(True, True, False, *nrows)
    return name, "ok", f"OK       {name} ({len(sr)} rows)", \
        _board(True, True, True, *nrows)


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    skip_verify = "--skip-verify" in sys.argv
    sfdir = args[0] if len(args) > 0 else "/root/testdata/sf0.01"
    outdir = args[1] if len(args) > 1 else "/tmp/verify_out"
    only = set(args[2:])

    if not skip_verify:
        # pass the name filter through so a targeted check only dumps
        # (and therefore only re-runs) the requested queries
        names = " ".join(sorted(only))
        r = subprocess.run(
            ["sbt", "-batch",
             f'runMain graft.Verify {sfdir} {outdir} {names}'.strip()],
            cwd="/root/repo", capture_output=True, text=True)
        sys.stdout.write("\n".join(r.stdout.splitlines()[-5:]) + "\n")
        # NB: sbt prints the forked JVM's stderr as "[error] ..." lines even
        # for INFO logs — only the exit code is meaningful.
        if r.returncode != 0:
            print("VERIFY FAILED");
            print(r.stdout[-4000:]); print(r.stderr[-2000:]); sys.exit(1)

    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    items = [(n, s) for n, s in sorted(oracle.items())
             if not only or n in only]
    # Process pool over query names (round-10 verdict item: the full
    # 348-query board was ~15 min single-threaded). Tiny targeted runs
    # skip the pool — fork+init costs more than the compare.
    scratch = tempfile.mkdtemp(prefix="graft-check-")
    try:
        if len(items) > 4:
            import concurrent.futures as cf
            workers = min(16, os.cpu_count() or 8)
            with cf.ProcessPoolExecutor(
                    max_workers=workers, initializer=_init_worker,
                    initargs=(sfdir, outdir, scratch,
                              TEMP_BUDGET_GB / workers)) as pool:
                results = list(pool.map(_compare_one, items, chunksize=4))
        else:
            _init_worker(sfdir, outdir, scratch, TEMP_BUDGET_GB, threads=None)
            results = [_compare_one(it) for it in items]
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    ok = fail = 0
    statuses = {}
    board = {}
    for name, status, msg, entry in results:
        print(msg)
        statuses[name] = status
        board[name] = entry
        if status == "ok":
            ok += 1
        else:
            fail += 1
    print(f"\n{ok} ok, {fail} failed")
    # Persist the board (round 9: the driver's own capture came back as
    # an empty {} despite a fully-green engine — the repo now carries
    # its own committed record of every run). Full runs only: a
    # filtered dev run would otherwise overwrite the full board.
    if not only:
        # provenance stamp (round-11 verdict item 6): sha + timestamp so
        # an empty driver-side board is attributable without mtime
        # archaeology
        try:
            sha = subprocess.run(["git", "rev-parse", "HEAD"],
                                 capture_output=True, text=True,
                                 cwd="/root/repo").stdout.strip() or "unknown"
        except Exception:
            sha = "unknown"
        import datetime
        at = datetime.datetime.now(datetime.timezone.utc).strftime(
            "%Y-%m-%dT%H:%M:%SZ")
        with open("/root/repo/CORRECTNESS_SELF.json", "w") as f:
            # "board" mirrors the driver's CORRECTNESS_r{N}.json schema
            # exactly (per-query rows/schema/hash triple + row counts) so
            # an empty driver board can be backfilled field-for-field.
            json.dump({"sf": sfdir, "ok": ok, "failed": fail,
                       "git": sha, "at": at,
                       "queries": statuses,
                       "board": board}, f, indent=0, sort_keys=True)
            f.write("\n")
    sys.exit(1 if fail else 0)


if __name__ == "__main__":
    main()
