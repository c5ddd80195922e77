"""Output checks of one benchmark run, made after the timed region.

check(workload, data_dir, out_dir, result) -> (wrong_ops, facts)
  wrong_ops: indices of timed operations whose output was wrong
  facts:     what was checked, for the run's report
"""
import glob
import json
import os

import numpy as np

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _same(got, want):
    """Column-name-sorted, row-ordered compare with dtype-normalised values
    (integers exactly, floats exactly, everything else as strings)."""
    import pandas as pd
    got, want = got[sorted(got.columns)], want[sorted(want.columns)]
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} vs {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    for c in got.columns:
        a, b = got[c], want[c]
        if pd.api.types.is_numeric_dtype(a) and pd.api.types.is_numeric_dtype(b):
            av, bv = a.astype("float64").values, b.astype("float64").values
            if pd.api.types.is_integer_dtype(a) and pd.api.types.is_integer_dtype(b):
                eq = a.values == b.values
            else:
                eq = (av == bv) | (np.isnan(av) & np.isnan(bv))
        else:
            eq = a.astype(str).values == b.astype(str).values
        if not eq.all():
            i = int((~eq).argmax())
            return f"col {c} row {i}: engine={a.iloc[i]!r} oracle={b.iloc[i]!r}"
    return None


def check_queries(data, out, oracle):
    """Each query's engine output against its DuckDB twin on the same inputs."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        p = os.path.join(data, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    bad = {}
    for name, sql in sorted(oracle.items()):
        files = glob.glob(os.path.join(out, "check", name, "*.parquet"))
        if not files:
            bad[name] = "no engine output"
            continue
        try:
            got = con.sql(f"SELECT * FROM '{os.path.join(out, 'check', name)}/*.parquet'").df()
            want = con.sql(sql).df()
            why = _same(got, want)
        except Exception as e:  # an oracle or read error is a failed check
            why = f"{type(e).__name__}: {e}"
        if why:
            bad[name] = why
    return bad


# Lowest recall@10 per request kind (share of returned ids inside the exact
# cosine top-10) a run may show before its answers of that kind count as
# wrong: below the lowest recorded run (Hamming 0.60-0.67 and graph
# 0.975-1.0 over the 20 runs of STEADINESS.json, HNSW 1.0 in traced runs).
RECALL_FLOOR = {"hamming": 0.55, "graph": 0.9, "hnsw": 0.9}


def _unit(v):
    return v / np.maximum(np.linalg.norm(v, axis=1, keepdims=True), 1e-30)


def check_serve(data, out):
    """Every answer row must be a real corpus vector with its exact cosine
    (floor basis points, ±1 for summation order), ranks 1..n without
    duplicate ids, sims non-increasing, and the full result width.
    Recall@10 is the share of returned ids inside the exact cosine top-10;
    a request kind whose recall over the run falls below its floor has all
    its answers counted wrong."""
    import pyarrow.parquet as pq
    emb = pq.read_table(os.path.join(data, "embeddings.parquet")).to_pydict()
    ids = np.asarray(emb["vec_id"], dtype=np.int64)
    vecs = np.asarray(emb["embedding"], dtype=np.float32).astype(np.float64)
    pos = {int(v): i for i, v in enumerate(ids)}
    qs = pq.read_table(os.path.join(data, "queries.parquet")).to_pydict()
    qv = {int(q): np.asarray(v, dtype=np.float64) for q, v in zip(qs["q_id"], qs["qv"])}
    qids = sorted(qv)
    sims = _unit(np.stack([qv[q] for q in qids])) @ _unit(vecs).T
    top10 = {q: set(ids[np.argsort(-sims[i], kind="stable")[:10]].tolist())
             for i, q in enumerate(qids)}
    qrow = {q: i for i, q in enumerate(qids)}
    width = {"hamming": 10, "graph": 10, "hnsw": 5}
    path = os.path.join(out, "answers.jsonl")
    rows = [json.loads(l) for l in open(path) if l.strip()] if os.path.exists(path) else []
    by = {}
    for r in rows:
        by.setdefault((r["exec"], r["q_id"]), []).append(r)
    wrong, hits, total, reasons = set(), {}, {}, {}
    ops_of = {}
    for (_, q), rs in by.items():
        op = rs[0]["op"]
        rs.sort(key=lambda r: r["rn"])
        kind = rs[0]["kind"]
        got = [r["vec_id"] for r in rs]
        why = None
        if [r["rn"] for r in rs] != list(range(1, len(rs) + 1)):
            why = "ranks not 1..n"
        elif len(rs) != min(width[kind], len(ids)):
            why = f"{len(rs)} results, expected {width[kind]}"
        elif len(set(got)) != len(got) or any(g not in pos for g in got):
            why = "duplicate or unknown ids"
        elif any(a["sim"] < b["sim"] for a, b in zip(rs, rs[1:])):
            why = "sims not non-increasing"
        else:
            exact = [int(np.floor(sims[qrow[q], pos[g]] * 10000)) for g in got]
            if any(abs(e - r["sim"]) > 1 for e, r in zip(exact, rs)):
                why = "reported sim differs from exact cosine"
        if why:
            wrong.add(op)
            reasons.setdefault(kind, why)
        ops_of.setdefault(kind, set()).add(op)
        hits[kind] = hits.get(kind, 0) + len(set(got) & top10[q])
        total[kind] = total.get(kind, 0) + len(got)
    recall = {k: hits[k] / total[k] for k in total}
    for kind, r in recall.items():
        if r < RECALL_FLOOR[kind]:  # correctly scored but far-off answers are wrong too
            wrong |= ops_of[kind]
            reasons.setdefault(kind, f"recall@10 {r:.3f} below {RECALL_FLOOR[kind]}")
    all_hits, all_total = sum(hits.values()), sum(total.values())
    return wrong, {"answers": len(rows), "wrong_requests": len(wrong),
                   "wrong_reasons": reasons,
                   **{f"recall_at_10.{k}": r for k, r in sorted(recall.items())},
                   "streaming.serve.recall_at_10": all_hits / all_total if all_total else 0.0}


def check(workload, data, out, result):
    """Returns (wrong timed ops, facts, whether work outside the loop —
    trace probes — produced a wrong output)."""
    samples = result["samples"] + result["untraced_samples"]
    ops = {s["op"] for s in samples}
    wrong, facts, probe_bad = set(), {}, False
    if workload in ("etl_scan", "curation"):
        bad = check_queries(data, out, result["check"]["oracle"])
        names = {s["op"]: s["name"] for s in samples}
        wrong = {op for op in ops if names[op] in bad}
        facts.update(checked_queries=len(result["check"]["oracle"]), failed_queries=bad)
    if workload == "ingest_cdc":
        bad = ingest_violations(result["check"])
        wrong = ops if bad else set()
        facts.update(ingest_state=result["check"], ingest_violations=bad)
    if os.path.exists(os.path.join(out, "answers.jsonl")):
        w, f = check_serve(data, out)
        wrong |= w & ops
        probe_bad |= bool(w - ops)
        facts.update(f)
    if result["probe_check"]:  # the traced run's ingest micro-batch
        bad = ingest_violations(result["probe_check"])
        probe_bad |= bool(bad)
        facts.update(ingest_state=result["probe_check"], ingest_violations=bad)
    return wrong, facts, probe_bad


def ingest_violations(f):
    """Kept ids must reach every artifact, rejected and deleted ids none,
    and the gate must have probed every add."""
    return {k: v for k, v in f.items() if k in (
        "kept_missing_band", "kept_missing_annidx", "kept_missing_graph",
        "rejected_present", "deleted_present", "unprobed_adds") and v}
