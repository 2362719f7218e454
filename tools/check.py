"""Driver-mimic correctness checker: run each __spark_entry__.queries() entry
on Spark AND its oracle_sql() on DuckDB over the same parquet, then compare
row count, schema (column names), and an order-insensitive value hash.

Every run at the default sf0.01 also records per-query results in
tools/parity_state.json and regenerates the parity table in README.md
(between the PARITY markers) — the full registry's oracle status and last
local hash-check date, so the driver's frozen round-1 CORRECTNESS subset
is legible as exactly that.

Usage:
    PYTHONPATH=/root/repo python tools/check.py [query ...] [--sf DIR]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

from variant_load_pipeline_spark.queries import TABLES

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_T2", "/root/testdata/sf0.01")


def canon(df: pd.DataFrame) -> tuple[int, list[str], str]:
    cols = sorted(df.columns)
    df = df[cols].copy()
    for c in cols:
        s = df[c]
        if s.dtype == object:
            df[c] = s.astype(str)
        elif "float" in str(s.dtype):
            df[c] = s.round(6).map(lambda x: f"{x:.6f}")
        elif "datetime" in str(s.dtype):
            df[c] = s.astype(str)
        else:
            df[c] = s.astype(str)
    rows = ["\x1f".join(r) for r in df.itertuples(index=False, name=None)]
    rows.sort()
    h = hashlib.sha256("\x1e".join(rows).encode()).hexdigest()[:16]
    return len(df), cols, h


_HERE = os.path.dirname(os.path.abspath(__file__))
STATE_PATH = os.path.join(_HERE, "parity_state.json")
README_PATH = os.path.join(os.path.dirname(_HERE), "README.md")
PARITY_BEGIN = "<!-- PARITY:BEGIN -->"
PARITY_END = "<!-- PARITY:END -->"


def _load_state() -> dict:
    import json

    try:
        with open(STATE_PATH) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return {}


def _save_state(state: dict) -> None:
    import json

    with open(STATE_PATH, "w") as fh:
        json.dump(state, fh, indent=1, sort_keys=True)
        fh.write("\n")


def _driver_recorded() -> set[str]:
    """Query names present in the newest driver CORRECTNESS_r*.json."""
    import glob
    import json

    import re

    root = os.path.dirname(_HERE)
    # sort by the round NUMBER: lexicographic order puts r9 after r10;
    # skip files whose name has no digits after _r instead of crashing
    matched = [
        (p, re.search(r"_r(\d+)", p))
        for p in glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))
    ]
    files = sorted(
        (p for p, m in matched if m),
        key=lambda p: int(re.search(r"_r(\d+)", p).group(1)),
    )
    if not files:
        return set()
    try:
        with open(files[-1]) as fh:
            return set(json.load(fh))
    except (OSError, ValueError):
        return set()


def render_parity_table(all_queries, oracles, state) -> str:
    """The README parity table: one row per registered query."""
    drec = _driver_recorded()
    lines = [
        "| query | oracle | driver row | last local check | result | rows |",
        "|---|---|---|---|---|---|",
    ]
    n_ok = 0
    for name in sorted(all_queries):
        st = state.get(name, {})
        oracle = "SQL hash" if name in oracles else "rows-only"
        drv = "r1 set" if name in drec else "—"
        date = st.get("date", "—")
        res = st.get("status", "unchecked")
        rows = st.get("rows", "—")
        if res == "ok":
            n_ok += 1
        lines.append(
            f"| `{name}` | {oracle} | {drv} | {date} | {res} | {rows} |"
        )
    head = (
        f"{len(all_queries)} registered queries, {len(oracles)} with a "
        f"DuckDB oracle, {n_ok} locally hash-verified; the driver's "
        f"CORRECTNESS file records the frozen round-1 subset "
        f"({len(drec)} rows).  Regenerate with "
        f"`PYTHONPATH=. python tools/check.py`.\n"
    )
    return head + "\n" + "\n".join(lines)


def update_readme(all_queries, oracles, state) -> None:
    try:
        with open(README_PATH) as fh:
            text = fh.read()
    except OSError:
        return
    if PARITY_BEGIN not in text or PARITY_END not in text:
        return
    pre, rest = text.split(PARITY_BEGIN, 1)
    _, post = rest.split(PARITY_END, 1)
    table = render_parity_table(all_queries, oracles, state)
    with open(README_PATH, "w") as fh:
        fh.write(f"{pre}{PARITY_BEGIN}\n{table}\n{PARITY_END}{post}")


def main() -> int:
    argv = sys.argv[1:]
    if "--sf" in argv:
        i = argv.index("--sf")
        sf = argv[i + 1]
        argv = argv[:i] + argv[i + 2 :]
    else:
        sf = SF_DIR
    args = [a for a in argv if not a.startswith("--")]

    import __spark_entry__ as entry_mod
    from variant_load_pipeline_spark.session import get_spark

    spark = get_spark(app_name="oracle-check")
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    names = args or sorted(qs)

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
        )

    # state/README updates only for runs at the canonical gate SF —
    # exact basename match, not substring (an sf0.015 dir must not record)
    record = os.path.basename(sf.rstrip("/")) == "sf0.01"
    state = _load_state() if record else {}
    today = time.strftime("%Y-%m-%d")

    def note(name: str, status: str, rows) -> None:
        if record:
            state[name] = {"status": status, "rows": rows, "date": today}

    n_pass = n_fail = 0
    for name in names:
        if name not in qs:
            print(f"{name}: NOT REGISTERED")
            n_fail += 1
            continue
        t0 = time.time()
        try:
            sdf = qs[name](spark, sf).toPandas()
        except Exception as ex:
            print(f"{name}: SPARK ERROR: {str(ex)[:400]}")
            note(name, "spark-error", None)
            n_fail += 1
            continue
        t_spark = time.time() - t0
        if name not in oracles:
            print(f"{name}: rows={len(sdf)} (rows-only check, no oracle) "
                  f"[spark {t_spark:.1f}s]")
            note(name, "rows-only", len(sdf))
            n_pass += 1
            continue
        t0 = time.time()
        try:
            ddf = con.execute(oracles[name]).df()
        except Exception as ex:
            print(f"{name}: DUCKDB ERROR: {str(ex)[:400]}")
            note(name, "oracle-error", len(sdf))
            n_fail += 1
            continue
        t_duck = time.time() - t0
        sc, scols, sh = canon(sdf)
        dc, dcols, dh = canon(ddf)
        ok = (sc == dc) and (scols == dcols) and (sh == dh)
        status = "OK " if ok else "FAIL"
        print(
            f"{name}: {status} rows {sc}/{dc} hash {sh}/{dh} "
            f"[spark {t_spark:.1f}s duck {t_duck:.1f}s]"
        )
        note(name, "ok" if ok else "fail", sc)
        if not ok:
            n_fail += 1
            if scols != dcols:
                print(f"  cols spark={scols}\n  cols duck ={dcols}")
            else:
                sdfs = sdf[sorted(sdf.columns)].astype(str)
                ddfs = ddf[sorted(ddf.columns)].astype(str)
                m = sdfs.merge(ddfs, how="outer", indicator=True)
                diff = m[m["_merge"] != "both"]
                print(diff.head(6).to_string())
        else:
            n_pass += 1
    if record:
        _save_state(state)
        update_readme(qs, oracles, state)
    print(f"== {n_pass} ok, {n_fail} fail ==")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
