"""Output check: each step's warm-up output against its DuckDB oracle.

The oracle is the registered query's `SparkEntry.oracleSql` entry, run by
DuckDB over the same generated tables. Steps that share a check (the
micro-batches of one operator) are compared as the union of their
outputs. Rows are compared as sorted multisets, columns by name.
"""
import importlib.util
from pathlib import Path

import duckdb

# The repository's own oracle compare (tools/check.py) defines the tables
# and how a value is canonicalized; this check groups steps on top of it.
_TOOLS_CHECK = Path(__file__).resolve().parent.parent / "tools" / "check.py"
if not _TOOLS_CHECK.is_file():
    raise SystemExit("perfbench: tools/check.py not found; run from a repository checkout")
_spec = importlib.util.spec_from_file_location("tools_check", _TOOLS_CHECK)
_tools = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(_tools)
TABLES, canon = _tools.TABLES, _tools.canon


def rows(table):
    cols = sorted(table.column_names)
    return cols, sorted(tuple(canon(r[c]) for c in cols) for r in table.to_pylist())


def check_outputs(result, data_dir, outputs_dir, threads):
    """Returns {check name: passed}; prints a line per failed check."""
    con = duckdb.connect()
    con.execute(f"SET threads TO {threads}")
    for t in TABLES:
        p = Path(data_dir, f"{t}.parquet")
        src = f"{p}/*.parquet" if p.is_dir() else str(p)
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    groups = {}
    for s in result["steps"]:
        groups.setdefault(s["check"], []).append(s["name"])
    passed, answers = {}, {}
    for name, steps in groups.items():
        dirs = [Path(outputs_dir, s) for s in steps]
        missing = [d.name for d in dirs if not d.is_dir()]
        if missing:
            print(f"[perfbench] check {name}: no output from {missing}", flush=True)
            passed[name] = False
            continue
        files = ", ".join(f"'{d}/*.parquet'" for d in dirs)
        try:
            got = rows(con.execute(f"SELECT * FROM read_parquet([{files}])").fetch_arrow_table())
            sql = result["oracles"][name]
            if sql not in answers:
                answers[sql] = rows(con.execute(sql).fetch_arrow_table())
            want = answers[sql]
        except duckdb.Error as e:
            print(f"[perfbench] check {name}: {e}", flush=True)
            passed[name] = False
            continue
        passed[name] = got == want
        if not passed[name]:
            bad = sum(a != b for a, b in zip(got[1], want[1]))
            print(f"[perfbench] check {name} FAILED: columns {got[0]} vs {want[0]}, "
                  f"rows {len(got[1])} vs {len(want[1])}, {bad} differ", flush=True)
    return passed
