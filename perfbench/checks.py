"""Output checks for one benchmark run.

Each operation's output (written by the harness's check pass) is compared
with DuckDB running the operation's oracle SQL over the same input files,
or with the facts the generator recorded. Approximate operators are
checked by error bound or recall against an exact twin. `check` returns
the failures and the measured recall figures.
"""
import glob
import math
import os

import duckdb
import numpy as np

RECALL_FLOOR = {"dedup_minhash": 0.9, "ann_ivfpq": 0.8}
HLL_REL_ERR = 0.08  # 4 x the operator's rsd of 0.02
ANN_K, ANN_QUERIES = 10, 50  # Workloads.AnnK / AnnQueries


def _connect(workload, data):
    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    con.execute("SET TimeZone = 'UTC'")
    base = os.path.join(data, "src") if workload == "dq_wide" else data
    for f in sorted(glob.glob(os.path.join(base, "*.parquet"))):
        name = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{f}')")
    return con


def _read(con, path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        raise AssertionError(f"no output at {path}")
    return con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf()


def _norm(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if hasattr(v, "item"):
        v = v.item()
    return v


def _rows(df):
    cols = sorted(df.columns)
    rows = [tuple(_norm(v) for v in r) for r in df[cols].itertuples(index=False, name=None)]
    return cols, sorted(rows, key=lambda r: tuple((x is None, str(x) if not isinstance(x, float)
                                                    else f"{x:.6e}") for x in r))


def _on_4dp_grid(x):
    return abs(x * 1e4 - round(x * 1e4)) < 1e-6


def _same(a, b):
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        a, b = float(a), float(b)
        if math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9):
            return True
        # values both engines round to 4 decimals may land one unit apart
        # when the unrounded value sits on a rounding tie
        return abs(a - b) <= 1.0000001e-4 and _on_4dp_grid(a) and _on_4dp_grid(b)
    return str(a) == str(b)


def compare(got, want):
    gc, gr = _rows(got)
    wc, wr = _rows(want)
    if gc != wc:
        return f"columns {gc} != {wc}"
    if len(gr) != len(wr):
        return f"{len(gr)} rows != {len(wr)}"
    for i, (g, w) in enumerate(zip(gr, wr)):
        for c, x, y in zip(gc, g, w):
            if not _same(x, y):
                return f"row {i} col {c}: got {x!r} want {y!r}"
    return None


def _pairs(df, a="doc_id_1", b="doc_id_2"):
    return {(min(x, y), max(x, y)) for x, y in zip(df[a].tolist(), df[b].tolist())}


def _recall(found, planted):
    planted = {(min(a, b), max(a, b)) for a, b in planted}
    return len(planted & found) / len(planted) if planted else 1.0


def _check_wide(op, got, truth):
    tables = truth["tables"]
    drift = truth["drift"]
    src = {t: e for t, e in tables.items() if e["rows"] is not None}
    if op == "rowcount_meta":
        have = dict(zip(got["table_name"], got["row_count"]))
        want = {t: e["rows"] for t, e in src.items()}
        return None if have == want else f"counts differ: {sorted(set(have.items()) ^ set(want.items()))[:4]}"
    if op == "rowcount_catalogs":
        want = {}
        for t, e in tables.items():
            if t in drift["missing"]:
                want[t] = ("ONLY_IN_SOURCE", None, None)
            elif e["rows"] is None:
                want[t] = ("ONLY_IN_TARGET", None, None)
            else:
                want[t] = ("BOTH", e["rows"], e["target_rows"])
        have = {r.table_name: (r.status, _norm(r.source_row_count), _norm(r.target_row_count))
                for r in got.itertuples()}
        bad = [t for t in want if have.get(t) != want[t]]
        diff_ok = all(_norm(r.difference) == (None if r.status != "BOTH"
                                              else r.target_row_count - r.source_row_count)
                      for r in got.itertuples())
        if bad or len(have) != len(want) or not diff_ok:
            return f"catalog compare differs on {bad[:4]}"
        return None
    if op == "colcompare":
        want = set()
        for t, e in tables.items():
            status = ("SOURCE_ONLY" if t in drift["missing"] else
                      "TARGET_ONLY" if e["rows"] is None else "COMMON")
            want.add((t.upper(), None, None, None, status))
            if status != "COMMON":
                continue
            tgt = dict(map(tuple, e["target_schema"]))
            for c, ty in e["schema"]:
                if c not in tgt:
                    want.add((t, c, ty, None, "SOURCE_ONLY"))
                else:
                    want.add((t, c, ty, tgt[c], "MATCH" if ty == tgt[c] else "TYPE_MISMATCH"))
        have = {(r.table_name, _norm(r.col_name), _norm(r.source_type), _norm(r.target_type),
                 r.status) for r in got.itertuples()}
        if have != want or len(got) != len(want):
            return f"column compare differs: {sorted(map(str, have ^ want))[:4]}"
        return None
    if op == "schema_describe":
        want = {(t, c, ty, i + 1) for t, e in src.items() for i, (c, ty) in enumerate(e["schema"])}
        have = {(r.table_name, r.col_name, r.data_type, r.ordinal) for r in got.itertuples()}
        if have != want or len(got) != len(want):
            return f"describe differs: {sorted(map(str, have ^ want))[:4]}"
        return None
    return f"no check for {op}"


def _check_hll(got, want):
    w = {r.column_name: r for r in want.itertuples()}
    for r in got.itertuples():
        e = w.get(r.column_name)
        if e is None or r.null_count != e.null_count or r.total_rows != e.total_rows:
            return f"{r.column_name}: exact counts differ"
        if abs(r.distinct_count - e.distinct_count) > max(2, HLL_REL_ERR * e.distinct_count):
            return f"{r.column_name}: distinct {r.distinct_count} vs exact {e.distinct_count}"
    return None if len(got) == len(w) else "column sets differ"


def _ann_recall(con, got):
    emb = con.execute("SELECT vec_id, embedding FROM embeddings ORDER BY vec_id").fetchdf()
    ids = emb["vec_id"].to_numpy()
    m = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    hit = 0
    for q in range(ANN_QUERIES):
        sims = m @ m[np.searchsorted(ids, q)]
        exact = set(ids[np.argsort(-sims, kind="stable")[:ANN_K]].tolist())
        found = set(got.loc[got["query_id"] == q, "vec_id"].tolist())
        hit += len(exact & found)
    return hit / (ANN_K * ANN_QUERIES)


def check(workload, data, run_dir, truth, res):
    con = _connect(workload, data)
    failures, quality = [], {}
    writes = set(res["write_ops"])
    for op in res["ops"]:
        path = os.path.join(run_dir, "written" if op in writes else "results", op)
        try:
            got = _read(con, path)
            sql = res["oracles"].get(op)
            if op == "nullcheck_approx":
                err = _check_hll(got, con.execute(sql).fetchdf())
            elif sql is not None:
                err = compare(got, con.execute(sql).fetchdf())
            elif workload == "dq_wide":
                err = _check_wide(op, got, truth)
            elif op == "dedup_minhash":
                r = _recall(_pairs(got), truth["planted_exact_pairs"] + truth["planted_near_pairs"])
                quality["dedup.recall"] = r
                err = None if r >= RECALL_FLOOR[op] else f"recall {r:.3f} < {RECALL_FLOOR[op]}"
            elif op == "ann_ivfpq":
                r = _ann_recall(con, got)
                quality["ann.recall"] = r
                err = None if r >= RECALL_FLOOR[op] else f"recall@{ANN_K} {r:.3f} < {RECALL_FLOOR[op]}"
            else:
                err = f"no check for {op}"
        except Exception as e:  # a check that cannot run is a failed check
            err = f"{type(e).__name__}: {e}"
        if err:
            failures.append(f"{op}: {err}")
    con.close()
    return failures, quality
