"""Reads what a run left on disk: Spark's source log, the landed event
files, the sink, and the batch results, and checks them against the
generator and the DuckDB oracles. Runs after the JVM has exited, outside
every timed window."""

import json
import sys
from pathlib import Path

import duckdb

import stats


def source_log_offsets(log_dir):
    """{file name: source log offset} from a file source's metadata log
    (`<checkpoint>/sources/0`), compacted entries included. The offset is
    the source's own (`batchId` in the log), not the query's batch id."""
    out = {}
    for f in sorted(log_dir.iterdir()):
        if f.name.startswith(".") or f.name.endswith(".tmp"):
            continue
        for line in f.read_text().splitlines()[1:]:
            if line.strip():
                e = json.loads(line)
                out[Path(e["path"]).name] = e["batchId"]
    return out


def read_events(watch):
    """(event_id, event_time ms, value, file name) of every row landed in
    the watched directory, re-sends included."""
    con = duckdb.connect()
    rows = con.execute(
        "SELECT event_id, epoch_ms(event_time), value, filename "
        f"FROM read_parquet('{watch}/*.parquet', filename = true)").fetchall()
    return [(e, t, v, Path(f).name) for e, t, v, f in rows]


def ingest_exactly_once(events, sink):
    con = duckdb.connect()
    held = con.execute(
        f"SELECT event_id, value FROM read_parquet('{sink}/*.parquet')").fetchall()
    return stats.exactly_once(((e, v) for e, _t, v, _f in events), held)


def parquet_files(d):
    files = list(Path(d).glob("*.parquet"))
    return len(files), sum(f.stat().st_size for f in files)


def table_rows(tables):
    con = duckdb.connect()
    return sum(con.execute(f"SELECT count(*) FROM read_parquet('{t}/*.parquet')").fetchone()[0]
               for t in sorted(Path(tables).glob("*.parquet")))


def batch_oracles(tables, results, oracles):
    """Compares each query's result with its registered oracle SQL run by
    DuckDB over the same tables: same column names, same multiset of rows,
    cell-exact (`canon`). Unlike tools/check_oracle.py, rows are compared as
    a multiset: the mix's queries promise no row order."""
    # cell rendering of graft's own oracle compare: floats by their full
    # repr, NaN and lists spelled out (imported here, where the checkout's
    # tools/ is known to exist)
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    from check_oracle import canon
    con = duckdb.connect()
    for t in sorted(Path(tables).glob("*.parquet")):
        con.execute(f"CREATE VIEW {t.stem} AS SELECT * FROM read_parquet('{t}/*.parquet')")
    out = {}
    for name, sql in oracles.items():
        try:
            rel = con.sql(sql)
            o_cols, o_rows = rel.columns, rel.fetchall()
            cur = con.execute(f"SELECT * FROM read_parquet('{results}/{name}/*.parquet')")
            e_cols = [d[0] for d in cur.description]
            e_rows = cur.fetchall()
        except Exception as e:  # an oracle or result that cannot be read fails the check
            out[name] = {"ok": False, "why": f"error: {e}"}
            continue
        if sorted(e_cols) != sorted(o_cols):
            out[name] = {"ok": False, "why": f"columns {sorted(e_cols)} != {sorted(o_cols)}"}
            continue
        cols = sorted(e_cols)

        def rows(cs, rs):
            idx = [cs.index(c) for c in cols]
            return sorted(tuple(canon(r[i]) for i in idx) for r in rs)

        e, o = rows(e_cols, e_rows), rows(o_cols, o_rows)
        if e == o:
            out[name] = {"ok": True, "why": f"{len(e)} rows"}
        else:
            diff = next((i for i, (a, b) in enumerate(zip(e, o)) if a != b), min(len(e), len(o)))
            out[name] = {"ok": False, "why": f"{len(e)} vs {len(o)} rows, first difference at {diff}"}
    return out


def span_rollup(raw, phases):
    """Per span name (layer call) in the given phases: calls, total and self
    seconds, and the Spark jobs, tasks and shuffle bytes attributed to those
    calls through their job group."""
    spans = [s for s in raw["spans"] if s["phase"] in phases]
    self_ms = stats.self_times(raw["spans"])
    jobs, tasks, shuffle = {}, {}, {}
    for j in raw["jobs"]:
        jobs[j["group"]] = jobs.get(j["group"], 0) + 1
    for st in raw["stages"]:
        tasks[st["group"]] = tasks.get(st["group"], 0) + st["tasks"]
        shuffle[st["group"]] = shuffle.get(st["group"], 0) + st["shuffle_write_b"]
    out = {}
    for s in spans:
        r = out.setdefault(s["name"], {"calls": 0, "total_s": 0.0, "self_s": 0.0,
                                       "jobs": 0, "tasks": 0, "shuffle_mb": 0.0})
        g = str(s["id"])
        r["calls"] += 1
        r["total_s"] += (s["end"] - s["start"]) / 1e3
        r["self_s"] += self_ms[s["id"]] / 1e3
        r["jobs"] += jobs.get(g, 0)
        r["tasks"] += tasks.get(g, 0)
        r["shuffle_mb"] += shuffle.get(g, 0) / 2**20
    return out
