"""Oracles and comparators for the benchmark's checks.

Two protocols, both the repository's own:

* ``ref`` -- the reference corpus (src/test/resources/reference_queries.tsv).
  As in tools/extract_ref_queries.py, the expected side (the test's H2
  rewrite, else the query) runs in DuckDB over unprefixed views of the
  benchmark's sf0.01 tables, and the rows are compared as
  ReferenceQueriesSpec compares them: canonical cells, unordered rows
  sorted, numeric cells within a relative 1e-6.
* ``oc`` -- tools/oracle_compare.py: the same SQL text runs in DuckDB on
  the same parquet; columns are ordered by name, rows sorted, and the
  canonical cells must be equal.

DuckDB answers are cached under .bench_build/oracle, keyed by the SQL and
the table directory.
"""
import base64
import hashlib
import importlib.util
import json
import os
import re

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".bench_build", "oracle")
MAX_ROWS = 8192
UNCHECKED = "unchecked"


def _tool(name):
    spec = importlib.util.spec_from_file_location(
        "perfbench_" + name, os.path.join(ROOT, "tools", name + ".py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


extract = _tool("extract_ref_queries")
compare = _tool("oracle_compare")


class Case:
    def __init__(self, sql, expected_sql, ordered, mode):
        self.sql, self.expected_sql = sql, expected_sql
        self.ordered, self.mode = ordered, mode


def load_corpus(path):
    """The frozen corpus' statements, in file order. Its frozen rows were
    computed on other tables, so they are recomputed here."""
    def d(s):
        return base64.b64decode(s).decode("utf-8")
    out = []
    with open(path, encoding="utf-8") as f:
        for line in f:
            fl = line.rstrip("\n").split("\t", 8)
            out.append(Case(d(fl[2]), d(fl[3]) or None, fl[4] == "1", fl[5]))
    return out


# ------------------------------------------------------------ DuckDB side

_cons = {}
_answers = {}


def _con(kind, directory):
    key = (kind, directory)
    if key not in _cons:
        c = duckdb.connect()
        if kind == "ref":
            c.execute("SET integer_division = true")  # Presto: int/int is int
            for name, sql in extract.VIEWS.items():
                c.execute(f"CREATE VIEW {name} AS " +
                          sql.replace(extract.SF_DIR, directory))
        else:
            for t in compare.TABLES:
                c.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                          f"read_parquet('{directory}/{t}.parquet')")
        _cons[key] = c
    return _cons[key]


def _reset(kind, directory):
    # a failed statement can poison the connection for every later one
    _cons.pop((kind, directory), None)


def _run(kind, directory, sql):
    c = _con(kind, directory)
    try:
        rel = c.execute(sql)
        return [d[0] for d in rel.description], rel.fetchall()
    except Exception:
        _reset(kind, directory)
        raise


def _ref_answer(case, directory):
    try:
        cols, rows = _run("ref", directory, extract.duckify(
            case.expected_sql if case.expected_sql is not None else case.sql))
    except Exception as e:
        return {"error": str(e).splitlines()[0][:200]}
    # a constant expected was computed on the reference's own data; where
    # it does not hold on these tables, the query's own DuckDB answer is
    # the oracle (the extractor only kept pairs where the two agreed)
    if (case.expected_sql is not None and case.mode == "rows" and
            not extract.TABLE_RE.search(case.expected_sql) and
            extract.TABLE_RE.search(case.sql)):
        try:
            _, act = _run("ref", directory, extract.duckify(case.sql))
            if not extract.rows_agree(act, rows):
                rows = act
        except Exception:
            pass
    mode = case.mode
    if mode == "rows" and len(rows) > MAX_ROWS:
        mode = "count"
    crows = ["\x01".join(extract.canon_cell(c) for c in r) for r in rows]
    if not case.ordered:
        crows.sort()
    return {"mode": mode, "n_rows": len(rows), "n_cols": len(cols),
            "ordered": case.ordered,
            "rows": crows if mode == "rows" else None}


def _oc_answer(sql, directory):
    try:
        cols, rows = _run("oc", directory, sql)
    except Exception as e:
        return {"error": str(e).splitlines()[0][:200]}
    return {"cols": cols, "rows": compare.canon(rows, cols)}


def _key(*parts):
    return hashlib.sha256("\x00".join(parts).encode()).hexdigest()[:24]


def prepare(expect):
    """Compute (or load) the DuckDB answer of every expectation."""
    os.makedirs(CACHE, exist_ok=True)
    for sid, (proto, spec) in expect.items():
        if proto == "ref":
            case, directory = spec
            k = _key("ref", case.sql, case.expected_sql or "", case.mode,
                     str(case.ordered), directory)
        else:
            sql, directory = spec
            k = _key("oc", sql, directory)
        path = os.path.join(CACHE, k + ".json")
        if os.path.exists(path):
            with open(path) as f:
                ans = json.load(f)
        else:
            ans = (_ref_answer(case, directory) if proto == "ref"
                   else _oc_answer(sql, directory))
            with open(path + ".part", "w") as f:
                json.dump(ans, f)
            os.rename(path + ".part", path)
        _answers[sid] = ans


def answer(sid):
    return _answers[sid]


# ------------------------------------------------------------ comparators

NUM = re.compile(r"-?\d+(\.\d+)?([eE][+-]?\d+)?$")


def cells_match(a, b):
    if a == b:
        return True
    if NUM.match(a) and NUM.match(b):
        x, y = float(a), float(b)
        return abs(x - y) <= abs(y) * 1e-6 + 1e-9
    return False


def rows_match(got, want):
    if got == want:
        return True
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        gc, wc = g.split("\x01"), w.split("\x01")
        if len(gc) != len(wc) or not all(cells_match(a, b)
                                         for a, b in zip(gc, wc)):
            return False
    return True


def check_ref(result, ans):
    """None when the engine's result matches, else why not (or
    UNCHECKED when DuckDB could not answer)."""
    if not result["ok"]:
        return "ERR " + result["err"]
    if "error" in ans:
        return UNCHECKED
    n = result["n_rows"]
    if ans["mode"] == "empty":
        return None if n == 0 else f"expected empty, got {n}"
    if n != ans["n_rows"]:
        return f"rows {n} != {ans['n_rows']}"
    if ans["mode"] == "count":
        return None
    if n and result["n_cols"] != ans["n_cols"]:
        return f"cols {result['n_cols']} != {ans['n_cols']}"
    got = ["\x01".join(r) for r in result["rows"]]
    if not ans["ordered"]:
        got.sort()
    if rows_match(got, ans["rows"]):
        return None
    i = next((i for i, (g, w) in enumerate(zip(got, ans["rows"])) if g != w), 0)
    return f"row {i}: got={got[i]!r} want={ans['rows'][i]!r}"


def check_oc(result, ans):
    if not result["ok"]:
        return "ERR " + result["err"]
    if "error" in ans:
        return UNCHECKED
    cols, want = ans["cols"], ans["rows"]
    if result["n_rows"] and sorted(map(str.lower, result["cols"])) != \
            sorted(map(str.lower, cols)):
        return f"cols {sorted(result['cols'])} != {sorted(cols)}"
    if result["n_rows"] != len(want):
        return f"rows {result['n_rows']} != {len(want)}"
    if result["rows"] is None:
        return None
    order = sorted(range(len(result["cols"])), key=lambda i: result["cols"][i])
    got = sorted(tuple(r[i] for i in order) for r in result["rows"])
    want = [tuple(r) for r in want]
    if got == want:
        return None
    # as ReferenceQueriesSpec: numeric cells may differ in the last printed
    # digit (summation order differs between engines)
    bad = [i for i, (a, b) in enumerate(zip(got, want))
           if len(a) != len(b) or not all(cells_match(x, y) for x, y in zip(a, b))]
    if not bad:
        return None
    return f"row {bad[0]}: got={got[bad[0]]} want={want[bad[0]]}"
