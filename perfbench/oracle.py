"""DuckDB oracle for the detector DAG queries, and the output comparison.

The three oracle SQL texts come from `DetectorApp.oracleSql` (the harness
dumps them). They share one long `WITH RECURSIVE` prefix: the wire rejects,
the recursive per-station gate fold, ECEF, gap sessions, the valid-edge
graph and recursive connected components. DuckDB re-evaluates CTEs that
the recursive parts reference on every iteration, which makes the texts
take minutes as written; here each CTE of the shared prefix is
materialized once, in order, as a temp table of the same name, and the
three query tails run over those tables. The SQL itself is unchanged.
"""
import hashlib
import json
import os
import re

import duckdb

QUERIES = ("detector_dag", "detector_dag_mqtt", "detector_dag_ascii")
CTE_HEAD = re.compile(r"\s*([A-Za-z_][A-Za-z_0-9]*)\s*(\([^()]*\))?\s+AS\s*\(", re.S)


def split_ctes(text):
    """`WITH RECURSIVE a AS (...), b(x) AS (...)` -> [(name, head, body)]."""
    m = re.match(r"\s*WITH\s+(RECURSIVE\s+)?", text, re.I)
    pos, out = m.end(), []
    while True:
        h = CTE_HEAD.match(text, pos)
        if not h:
            raise ValueError(f"no CTE at offset {pos}")
        depth, i, quote = 1, h.end(), False
        while depth:
            c = text[i]
            if c == "'":
                quote = not quote
            elif not quote:
                depth += {"(": 1, ")": -1}.get(c, 0)
            i += 1
        out.append((h.group(1), text[h.start(1):h.end()], text[h.end():i - 1]))
        rest = text[i:].lstrip()
        if not rest.startswith(","):
            return out, rest
        pos = text.index(",", i) + 1


def shared_prefix(sqls):
    """Longest run of whole CTEs that every query text starts with."""
    texts = list(sqls.values())
    ctes = [split_ctes(t)[0] for t in texts]
    n = 0
    while all(len(c) > n for c in ctes) and len({c[n] for c in ctes}) == 1:
        n += 1
    return ctes[0][:n]


def run_oracle(sqls, events_parquet, threads=4):
    """{query: sorted list of row tuples} plus a few materialized counts."""
    con = duckdb.connect()
    con.execute(f"SET threads={int(threads)}")
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{events_parquet}')")
    prefix = shared_prefix(sqls)
    for name, head, body in prefix:
        con.execute(f"CREATE TEMP TABLE {name} AS WITH RECURSIVE {head} {body}) "
                    f"SELECT * FROM {name}")
    shared = {name for name, _, _ in prefix}
    out = {}
    for q, text in sqls.items():
        ctes, final = split_ctes(text)
        own = [f"{head} {body})" for name, head, body in ctes if name not in shared]
        sql = ("WITH RECURSIVE " + ",\n".join(own) + "\n" if own else "") + final
        out[q] = sorted(tuple(r) for r in con.execute(sql).fetchall())
    counts = {
        "wire_ok": con.execute("SELECT count(*) FROM ev").fetchone()[0],
        "gated": con.execute("SELECT count(*) FROM gated").fetchone()[0],
        "valid_edges": con.execute("SELECT count(*) FROM e").fetchone()[0] // 2,
        "pairs_in_sessions": con.execute(
            "SELECT coalesce(sum(k * (k - 1) // 2), 0) FROM "
            "(SELECT count(*) AS k FROM c GROUP BY cid)").fetchone()[0],
    }
    con.close()
    return out, {k: int(v) for k, v in counts.items()}


def cached_oracle(sqls, events_parquet, cache_dir, digest, threads=4):
    """run_oracle, computed once per input digest and oracle text."""
    text = json.dumps(sqls, sort_keys=True).encode()
    key = f"{digest}-{hashlib.sha256(text).hexdigest()[:12]}"
    path = os.path.join(cache_dir, f"oracle-{key}.json")
    if os.path.exists(path):
        with open(path) as f:
            d = json.load(f)
        return {q: [tuple(r) for r in rows] for q, rows in d["rows"].items()}, d["counts"]
    rows, counts = run_oracle(sqls, events_parquet, threads)
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump({"rows": rows, "counts": counts}, f)
    os.replace(path + ".tmp", path)
    return rows, counts


def diff_rows(expected, got, limit=5):
    """(number of mismatching rows, a few examples) between two row lists,
    compared as multisets of tuples."""
    from collections import Counter
    e, g = Counter(map(tuple, expected)), Counter(map(tuple, got))
    missing, extra = e - g, g - e
    n = sum(missing.values()) + sum(extra.values())
    ex = [{"missing": list(r)} for r in list(missing)[:limit]] + \
         [{"unexpected": list(r)} for r in list(extra)[:limit]]
    return n, ex
