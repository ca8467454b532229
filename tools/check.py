#!/usr/bin/env python3
"""Local parity harness: mimic the driver's t2 check.

Usage: python3 tools/check.py <sfDir> <verifyOutDir>

Loads each <verifyOutDir>/<name> parquet (Spark result), runs the
corresponding oracle SQL from oracle_sql.json in DuckDB over the sfDir
tables, and compares values order-insensitively (rows sorted, columns
sorted by name). Prints per-query PASS/FAIL with a diff sample.
"""
import sys, os, json, glob
import duckdb
import pyarrow.parquet as pq

def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(norm(r[i]) for i in order))
    out.sort(key=lambda t: tuple((v is None, str(v)) for v in t))
    return [cols[i] for i in order], out

def norm(v):
    if isinstance(v, float):
        return round(v, 6)
    if isinstance(v, list):
        return tuple(norm(x) for x in v)
    return v

def arrow_type_tag(t):
    """Collapse a pyarrow type to a comparable class tag."""
    import pyarrow as pa
    if pa.types.is_boolean(t): return "bool"
    if pa.types.is_integer(t):
        return f"int{t.bit_width}" + ("u" if not pa.types.is_signed_integer(t) else "")
    if pa.types.is_floating(t): return "float"
    if pa.types.is_decimal(t): return "decimal"
    if pa.types.is_string(t) or pa.types.is_large_string(t): return "str"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t): return "bin"
    if pa.types.is_date(t): return "date"
    if pa.types.is_timestamp(t): return "ts"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return "list<" + arrow_type_tag(t.value_type) + ">"
    if pa.types.is_struct(t): return "struct"
    if pa.types.is_map(t): return "map"
    return str(t)

def duck_type_tag(t):
    """Collapse a DuckDB type string to the same tag space."""
    s = str(t).upper()
    if s.startswith("DECIMAL"): return "decimal"
    base = {"BOOLEAN": "bool", "TINYINT": "int8", "SMALLINT": "int16",
            "INTEGER": "int32", "BIGINT": "int64", "HUGEINT": "int128",
            "UTINYINT": "int8u", "USMALLINT": "int16u", "UINTEGER": "int32u",
            "UBIGINT": "int64u", "UHUGEINT": "int128u",
            "FLOAT": "float", "DOUBLE": "float", "VARCHAR": "str",
            "BLOB": "bin", "DATE": "date"}
    if s in base: return base[s]
    if s.startswith("TIMESTAMP"): return "ts"
    if s.endswith("[]"): return "list<" + duck_type_tag(s[:-2]) + ">"
    if s.startswith("STRUCT"): return "struct"
    if s.startswith("MAP"): return "map"
    return s

def type_skew(spark_schema, ora_cols, ora_types):
    """The driver hashes TYPED values, so an oracle column whose DuckDB
    result type differs in class from the Spark parquet type (classic:
    sum(BIGINT) promoting to HUGEINT) hash-fails at the driver even when
    every value matches numerically. Return [(col, spark_tag, duck_tag)]
    for mismatched columns so the local gate catches this class."""
    by_name = {f.name: arrow_type_tag(f.type) for f in spark_schema}
    skews = []
    for c, t in zip(ora_cols, ora_types):
        if c not in by_name:
            continue
        st, dt = by_name[c], duck_type_tag(t)
        if st == dt:
            continue
        # float-vs-decimal and float-width differences are absorbed by
        # norm()'s 6dp rounding on the driver's value canon too — only
        # integer-class / temporal / bool / string skew is fatal.
        if st == "float" and dt in ("float", "decimal"):
            continue
        skews.append((c, st, dt))
    return skews

def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    def connect():
        c = duckdb.connect()
        for t in ["region","nation","customer","supplier","part","orders",
                  "lineitem","events","documents","embeddings"]:
            # driver testdata ships single files; Spark-written stress sets
            # (e.g. target/sf1) are multi-part directories — glob those
            p = f"{sf_dir}/{t}.parquet"
            src = f"'{p}/*.parquet'" if os.path.isdir(p) else f"'{p}'"
            c.sql(f"CREATE VIEW {t} AS SELECT * FROM {src}")
        return c
    con = connect()
    oracles = json.load(open(os.path.join(out_dir, "oracle_sql.json")))

    def run_with_timeout(c, sql):
        """Run sql on c under GRAFT_ORACLE_TIMEOUT_SEC. Returns "timeout",
        an Exception, or (columns, rows). On a stuck interrupt the daemon
        thread (and its connection) is abandoned — caller reconnects."""
        timeout = float(os.environ.get("GRAFT_ORACLE_TIMEOUT_SEC", "0"))
        box = {}
        def go():
            try:
                res = c.sql(sql)
                box["cols"] = res.columns
                box["rows"] = res.fetchall()
            except Exception as e:
                box["err"] = e
        if timeout > 0:
            import threading
            th = threading.Thread(target=go, daemon=True); th.start()
            th.join(timeout)
            if th.is_alive():
                c.interrupt()
                th.join(30)
                return "timeout"
        else:
            go()
        if "err" in box:
            return box["err"]
        return (box["cols"], box["rows"])
    n_pass = n_fail = n_rowsonly = 0
    for d in sorted(os.listdir(out_dir)):
        path = os.path.join(out_dir, d)
        if not os.path.isdir(path):
            continue
        files = sorted(glob.glob(os.path.join(path, "*.parquet")))
        # Huge outputs (stress scales can push pair sets past 100M rows)
        # would OOM the Python-side canonicalization — compare them
        # entirely inside DuckDB instead: columns sorted by name, EXCEPT
        # ALL both directions (same per-oracle timeout applies).
        big_rows = int(os.environ.get("GRAFT_BIG_ROWS", "2000000"))
        n_sp = sum(pq.read_metadata(f).num_rows for f in files) if files else 0
        if files and n_sp > big_rows and d in oracles:
            schema = pq.read_schema(files[0])
            cols = sorted(schema.names)
            # The oracle relation is lazy in DuckDB — .columns/.types only
            # bind, they don't execute — so the schema checks the normal
            # path does (column-set equality + result-type skew) run here
            # too before the expensive EXCEPT ALL compare.
            try:
                orel = con.sql(oracles[d])
                ora_cols, ora_types = list(orel.columns), list(orel.types)
            except Exception as e:
                print(f"{d:24s} ORACLE-ERROR {str(e)[:120]}")
                n_fail += 1
                continue
            if sorted(ora_cols) != cols:
                print(f"{d:24s} FAIL cols spark={cols} oracle={sorted(ora_cols)}")
                n_fail += 1
                continue
            skews = type_skew(schema, ora_cols, ora_types)
            if skews:
                print(f"{d:24s} FAIL type-skew " +
                      ", ".join(f"{c}: spark={st} oracle={dt}" for c, st, dt in skews) +
                      " (driver hashes typed values — CAST the oracle)")
                n_fail += 1
                continue
            # EXCEPT ALL is exact bit equality; round floating columns to
            # 6dp on BOTH sides so the big path matches norm()'s tolerance
            # (Spark round() and DuckDB round() can differ 1 ULP raw).
            import pyarrow as pa
            def sel(c):
                t = schema.field(c).type
                if pa.types.is_floating(t):
                    return f"round({c}, 6) AS {c}"
                return c
            collist = ", ".join(sel(c) for c in cols)
            flist = "[" + ", ".join(f"'{f}'" for f in files) + "]"
            bigq = (f"WITH o AS ({oracles[d]}), "
                    f"s AS (SELECT {collist} FROM read_parquet({flist})), "
                    f"o2 AS (SELECT {collist} FROM o) "
                    f"SELECT (SELECT count(*) FROM (SELECT * FROM o2 EXCEPT ALL SELECT * FROM s)) AS miss, "
                    f"(SELECT count(*) FROM (SELECT * FROM s EXCEPT ALL SELECT * FROM o2)) AS extra")
            res = run_with_timeout(con, bigq)
            if res == "timeout":
                con = connect()
                print(f"{d:24s} ORACLE-TIMEOUT >{int(float(os.environ.get('GRAFT_ORACLE_TIMEOUT_SEC', '0')))}s (big-output compare, not counted as fail)")
                n_rowsonly += 1
            elif isinstance(res, Exception):
                print(f"{d:24s} ORACLE-ERROR {str(res)[:120]}")
                n_fail += 1
            else:
                miss, extra = res[1][0]
                if miss == 0 and extra == 0:
                    n_pass += 1
                    print(f"{d:24s} PASS rows={n_sp} (duckdb-side compare)")
                else:
                    n_fail += 1
                    print(f"{d:24s} FAIL miss={miss} extra={extra} of {n_sp} rows")
            continue
        if files:
            import pyarrow as pa
            tbl = pa.concat_tables([pq.read_table(f) for f in files])
        else:
            tbl = None
        spark_cols = tbl.column_names if tbl is not None else []
        spark_rows = [tuple(r[c] for c in spark_cols) for r in tbl.to_pylist()] if tbl is not None else []
        if d not in oracles:
            n_rowsonly += 1
            status = "ROWS-ONLY" if spark_rows else "ROWS-ONLY(EMPTY!)"
            print(f"{d:24s} {status} rows={len(spark_rows)}")
            continue
        try:
            # per-oracle timeout (GRAFT_ORACLE_TIMEOUT_SEC, 0 = none):
            # some oracles are superlinear in DuckDB at stress scales
            # (e.g. sf1) — an expired oracle is reported as its own
            # category, not a correctness fail, and the sweep moves on
            timeout = float(os.environ.get("GRAFT_ORACLE_TIMEOUT_SEC", "0"))
            box = {}
            qcon = con
            def run():
                try:
                    res = qcon.sql(oracles[d])
                    box["cols"] = res.columns
                    box["types"] = res.types
                    box["rows"] = res.fetchall()
                except Exception as e:
                    box["err"] = e
            if timeout > 0:
                import threading
                th = threading.Thread(target=run, daemon=True); th.start()
                th.join(timeout)
                if th.is_alive():
                    qcon.interrupt()
                    # DuckDB occasionally ignores the interrupt inside a
                    # large materialization (seen on the d15 replay at
                    # sf1) — never wait forever on it: give it 30 s, then
                    # ABANDON the daemon thread + its connection and
                    # reconnect, so one stuck oracle can't hang the sweep
                    th.join(30)
                    # ALWAYS reconnect after an interrupt: even when the
                    # thread dies promptly, the interrupt flag can leak
                    # into the connection's NEXT query ("Interrupted!"
                    # on an innocent oracle — seen after d55 at sf1)
                    con = connect()
                    print(f"{d:24s} ORACLE-TIMEOUT >{int(timeout)}s (not counted as fail)")
                    n_rowsonly += 1
                    continue
            else:
                run()
            if "err" in box:
                raise box["err"]
            ora_cols, ora_rows = box["cols"], box["rows"]
        except Exception as e:
            print(f"{d:24s} ORACLE-ERROR {str(e)[:120]}")
            n_fail += 1
            continue
        sc, sr = canon(spark_rows, list(spark_cols))
        oc, orr = canon(ora_rows, list(ora_cols))
        skews = type_skew(tbl.schema, ora_cols, box.get("types", [])) if tbl is not None else []
        if sc != oc:
            print(f"{d:24s} FAIL cols spark={sc} oracle={oc}")
            n_fail += 1
        elif skews:
            print(f"{d:24s} FAIL type-skew " +
                  ", ".join(f"{c}: spark={st} oracle={dt}" for c, st, dt in skews) +
                  " (driver hashes typed values — CAST the oracle)")
            n_fail += 1
        elif sr != orr:
            n_fail += 1
            print(f"{d:24s} FAIL rows spark={len(sr)} oracle={len(orr)}")
            for i, (a, b) in enumerate(zip(sr, orr)):
                if a != b:
                    print(f"   first diff @{i}:\n   spark : {a}\n   oracle: {b}")
                    break
            else:
                if len(sr) != len(orr):
                    print(f"   extra rows: spark {sr[len(orr):len(orr)+2] if len(sr)>len(orr) else orr[len(sr):len(sr)+2]}")
        else:
            n_pass += 1
            print(f"{d:24s} PASS rows={len(sr)}")
    print(f"\n=== {n_pass} pass, {n_fail} fail, {n_rowsonly} rows-only ===")
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main()
