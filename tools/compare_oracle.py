#!/usr/bin/env python3
"""Local simulation of the driver's t2 correctness gate: run each oracle SQL
in DuckDB against the sf-dir parquet tables, compare with the Spark result
parquet written by graft.Verify (columns sorted by name, values hashed).

Usage: compare_oracle.py <sfDir> <verifyOutDir>
"""
import sys, json, glob, os
import duckdb
import pandas as pd

sfdir, outdir = sys.argv[1], sys.argv[2]
con = duckdb.connect()
for p in glob.glob(f"{sfdir}/*.parquet"):
    name = os.path.basename(p).replace(".parquet", "")
    con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))
fails = ok = 0
for name in sorted(os.listdir(outdir)):
    d = os.path.join(outdir, name)
    if not os.path.isdir(d):
        continue
    spark_df = pd.concat([pd.read_parquet(f) for f in sorted(glob.glob(f"{d}/*.parquet"))])
    if name not in oracle:
        print(f"{name}: rows-only ({len(spark_df)} rows)" + (" !! EMPTY" if len(spark_df) == 0 else ""))
        continue
    try:
        duck_df = con.sql(oracle[name]).df()
    except duckdb.Error as e:
        # one query's oracle failing (q396's k-truss runs DuckDB out of
        # memory on a 16 GB box) must not leave the queries after it unchecked
        fails += 1
        print(f"{name}: FAIL  oracle error: " + " ".join(str(e).split()))
        continue
    s = spark_df[sorted(spark_df.columns)].reset_index(drop=True)
    o = duck_df[sorted(duck_df.columns)].reset_index(drop=True)
    problems = []
    if list(s.columns) != list(o.columns):
        problems.append(f"columns spark={list(s.columns)} duck={list(o.columns)}")
    elif len(s) != len(o):
        problems.append(f"rowcount spark={len(s)} duck={len(o)}")
    else:
        for c in s.columns:
            a, b = s[c], o[c]
            # Driver's value hash is dtype-sensitive (caught r4: DuckDB SUM(BIGINT)
            # -> HUGEINT -> float64 vs Spark int64 hashed differently even though
            # values compared ==). Canonicalize only datetime unit, then require
            # exact dtype equality.
            ad, bd = str(a.dtype), str(b.dtype)
            # Spark DateType arrives as object-of-datetime.date while DuckDB
            # DATE arrives as datetime64 — the one object-dtype pairing the
            # driver's hash treats as equal (q02 passes it). Canonicalize.
            import datetime as _dt
            def _is_dateobj(s):
                # classify on the first NON-null value: a leading null would
                # otherwise skip canonicalization and false-positive as a
                # dtype mismatch the driver hash doesn't have
                nn = s.dropna()
                return str(s.dtype) == "object" and len(nn) and isinstance(nn.iloc[0], _dt.date)
            try:
                if _is_dateobj(a) and bd.startswith("datetime64"):
                    a = pd.to_datetime(a).astype("datetime64[us]")
                    b = b.astype("datetime64[us]")
                    ad = bd = "datetime64[us]"
                # tz-aware (e.g. datetime64[ns, UTC]) also startswith
                # "datetime64" but astype to a naive unit raises — treat a
                # canonicalization failure as a per-column problem, not a
                # crash of the whole compare run
                if ad.startswith("datetime64") and bd.startswith("datetime64"):
                    a, b = a.astype("datetime64[us]"), b.astype("datetime64[us]")
                    ad = bd = "datetime64[us]"
            except (TypeError, ValueError) as e:
                problems.append(
                    f"col {c}: datetime canonicalization failed ({e}) dtypes {ad} vs {bd}")
                continue
            if ad != bd:
                problems.append(f"col {c}: dtype mismatch spark={ad} duck={bd} (driver hash would differ)")
                continue
            try:
                eqmask = (a == b) | (a.isna() & b.isna())
            except Exception as e:
                problems.append(f"col {c}: compare error {e} (dtypes {a.dtype} vs {b.dtype})")
                continue
            if not eqmask.all():
                idx = (~eqmask).idxmax()
                problems.append(
                    f"col {c} ({a.dtype} vs {b.dtype}): {int((~eqmask).sum())} diffs, first@{idx}: spark={a[idx]!r} duck={b[idx]!r}")
    if problems:
        fails += 1
        print(f"{name}: FAIL  " + " | ".join(problems))
    else:
        ok += 1
        print(f"{name}: OK ({len(s)} rows)")
print(f"\n{ok} ok, {fails} fail, {len(oracle)} with oracle")
sys.exit(1 if fails else 0)
