"""Output checkers. They run after the timed region and feed the result's
`failed` count: a record or batch that fails any check is one failure."""
import base64
import glob
import json
import os


def load_dump(path):
    """Rows the bench-owned sink and Mgmt client received, as written by the
    JVM: k1/k2 records, k3 notifications, k4 status PUTs."""
    out = []
    with open(path, encoding="utf-8") as f:
        for line in f:
            out.append(json.loads(line))
    return out


def unb64(s):
    return None if s is None else base64.b64decode(s)


def check_stream(stream, rows):
    """Exactly-once delivery, routing and byte identity of every record;
    status and counts of every batch's terminal notification, once on K3
    and once on K4. Returns (attempted, failed, problems)."""
    problems = []
    seen = {}
    for r in rows:
        if r["step"] in ("k1", "k2"):
            seen.setdefault(unb64(r["key"]), []).append(r)
    bad_records = 0
    for key, (step, value, headers) in stream.expect.items():
        got = seen.pop(key, [])
        why = None
        if not got:
            why = "missing"
        elif len(got) > 1:
            why = f"delivered {len(got)} times"
        elif got[0]["step"] != step:
            why = f"routed to {got[0]['step']}, expected {step}"
        elif unb64(got[0]["value"]) != value:
            why = "body altered"
        elif [(k, unb64(v)) for k, v in got[0]["headers"]] != headers:
            why = "headers altered"
        if why:
            bad_records += 1
            problems.append(f"record {key.decode('utf-8', 'replace')}: {why}")
    for key, got in seen.items():
        bad_records += 1
        problems.append(f"record {key!r}: not in the input, delivered {len(got)} times")

    k3, k4 = {}, {}
    for r in rows:
        if r["step"] == "k3":
            k3.setdefault(unb64(r["key"]).decode("utf-8"), []).append(json.loads(unb64(r["value"])))
        elif r["step"] == "k4":
            k4.setdefault(r["batch"], []).append(json.loads(r["json"]))
    bad_batches = 0
    for batch, want in stream.terminal.items():
        want_list = [] if want is None else [want]
        got3, got4 = k3.pop(batch, []), k4.pop(batch, [])
        if got3 != want_list or got4 != want_list:
            bad_batches += 1
            problems.append(f"batch {batch}: expected {want_list and want['status']}, "
                            f"got K3 {[g.get('status') for g in got3]} "
                            f"K4 {[g.get('status') for g in got4]}")
    for batch in set(k3) | set(k4):
        bad_batches += 1
        problems.append(f"batch {batch}: unexpected notification")
    return len(stream.expect) + len(stream.terminal), bad_records + bad_batches, problems


def oracle_compare(data_dir, out_dir, name, sql):
    """The DuckDB oracle compare of tools/oracle_check.py for one entry:
    columns sorted by name, rows by all columns, values exact, an int
    column against a float one a mismatch. Returns None or the problem."""
    import duckdb
    import pandas as pd

    con = duckdb.connect()
    for p in glob.glob(os.path.join(data_dir, "*.parquet")):
        table = os.path.basename(p).removesuffix(".parquet")
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{p}')")
    # frozen-artifact paths in the oracle SQL name the verify directory;
    # point them at this data directory's basename
    sql = sql.replace("/sf0.01/", f"/{os.path.basename(data_dir.rstrip('/'))}/")
    try:
        odf = con.execute(sql).fetchdf()
    except Exception as e:  # noqa: BLE001 - any oracle error is a failed entry
        return f"oracle SQL error: {e}"
    files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
    if not files:
        return "no output"
    sdf = pd.concat([pd.read_parquet(f) for f in files])
    o = odf.reindex(sorted(odf.columns), axis=1)
    s = sdf.reindex(sorted(sdf.columns), axis=1)
    if list(o.columns) != list(s.columns):
        return f"columns oracle={list(o.columns)} spark={list(s.columns)}"
    if len(o) != len(s):
        return f"rows oracle={len(o)} spark={len(s)}"
    o = o.sort_values(list(o.columns)).reset_index(drop=True)
    s = s.sort_values(list(s.columns)).reset_index(drop=True)
    for c in o.columns:
        ov, sv = o[c], s[c]
        ok, sk = ov.dtype.kind, sv.dtype.kind
        if (ok == "f") != (sk == "f") and ok in "iuf" and sk in "iuf":
            return f"col {c}: dtype oracle={ov.dtype} spark={sv.dtype}"
        if ok == "f" and sk == "f":
            eq = ov.combine(sv, lambda a, b: (pd.isna(a) and pd.isna(b)) or a == b)
        else:
            eq = ov.astype(str).fillna("<null>") == sv.astype(str).fillna("<null>")
        if not eq.all():
            i = eq.idxmin()
            return f"col {c} row {i}: oracle={ov[i]!r} spark={sv[i]!r}"
    return None


def check_catalogue(data_dir, out_dir, result, passes):
    """Each entry's warm-up output against its oracle, and every timed
    execution's row count against that output. One attempt per timed
    execution. Returns (attempted, failed, problems)."""
    problems = []
    oracle_bad = {}
    for name, sql in result["oracle_sql"].items():
        rows = result["warm_rows"][name]
        if isinstance(rows, str):
            oracle_bad[name] = rows
        elif not sql:
            oracle_bad[name] = "no oracle SQL"
        else:
            why = oracle_compare(data_dir, out_dir, name, sql)
            if why:
                oracle_bad[name] = why
    problems += [f"{n}: {why}" for n, why in oracle_bad.items()]
    attempted = failed = 0
    for p in passes:
        for name, e in p["entries"].items():
            attempted += 1
            if name in oracle_bad:
                failed += 1
            elif "error" in e or e["rows"] != result["warm_rows"][name]:
                failed += 1
                problems.append(f"{name}: timed run {e.get('error') or e['rows']} rows")
    return attempted, failed, problems
