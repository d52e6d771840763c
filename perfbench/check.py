#!/usr/bin/env python3
"""Output checks for the benchmark's workloads, made apart from the engine.

  cdc_stream       after the archive files that landed, the upsert sink
                   holds exactly the rows the generator's truth holds for
                   that prefix (live rows, deleted keys as delete markers,
                   no key twice) and the IncrementalView equals its
                   per-status view
  corpus_curation  each query's result, as the last timed pass wrote it,
                   equals its DuckDB oracle twin
                   (SparkEntry.oracleSql), compared as tools/check.py does:
                   column names, column types, then row-sorted exact values

    python3 perfbench/check.py --self-test

shows that a corrupted result (one key dropped, one value changed) fails.
"""
import hashlib
import importlib.util
import json
import os
import sys

import duckdb

from gen import STATE_FIELDS, state_digest


def repo_check():
    """The repository's own oracle comparison (tools/check.py)."""
    spec = importlib.util.spec_from_file_location(
        "repo_tools_check", os.path.join("tools", "check.py"))
    rc = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(rc)
    return rc


def compare(name, expected, got):
    """Problems found comparing two row lists as multisets."""
    e, g = sorted(expected), sorted(got)
    if e == g:
        return []
    es, gs = set(e), set(g)
    out = [f"{name}: {len(e)} expected rows, {len(g)} rows"]
    out += [f"{name}: missing {r}" for r in sorted(es - gs)[:2]]
    out += [f"{name}: unexpected {r}" for r in sorted(gs - es)[:2]]
    if len(out) == 1:
        out.append(f"{name}: duplicated rows")
    return out


def sink_rows(sink_dir):
    """The upsert sink's rows as (key, lsn, deleted, *STATE_FIELDS)."""
    return [(k, lsn, dead) + tuple(json.loads(payload)[c]
                                   for c in STATE_FIELDS)
            for k, lsn, dead, payload in duckdb.sql(
                "SELECT key, lsn, deleted, payload FROM "
                f"read_parquet('{sink_dir}/_bucket=*/*.parquet')").fetchall()]


def state_problems(rows, want):
    """A consumer state against the generator's truth for the same prefix:
    the same rows (by digest), live and deleted counts, no key twice."""
    out = []
    if len(rows) != len({r[0] for r in rows}):
        out.append("sink: a key appears twice")
    live = sum(not r[2] for r in rows)
    if (live, len(rows) - live) != (want["live"], want["deleted"]):
        out.append(f"sink: {live} live and {len(rows) - live} deleted keys, "
                   f"truth {want['live']} and {want['deleted']}")
    if state_digest(rows) != want["state_digest"]:
        out.append("sink: rows differ from the truth")
    return out


def check_stream(data, res):
    with open(f"{data}/truth/truth.json") as fh:
        want = json.load(fh)["prefixes"][len(res["landed"]) - 1]
    out = state_problems(sink_rows(res["sink_dir"]), want)
    snaps = sorted((int(d.split("=")[1]), d) for d in os.listdir(res["view_dir"])
                   if d.startswith("batch=") and os.path.exists(
                       os.path.join(res["view_dir"], d, "_SUCCESS")))
    view = duckdb.sql(
        "SELECT o_orderstatus, revenue_cents, n_orders FROM read_parquet("
        f"'{res['view_dir']}/{snaps[-1][1]}/*.parquet')").fetchall()
    return out + compare("view", [tuple(v) for v in want["view"]], view)


def corpus_hash(corpus):
    h = hashlib.sha256()
    for f in sorted(os.listdir(corpus)):
        with open(os.path.join(corpus, f), "rb") as fh:
            h.update(f.encode() + fh.read())
    return h.hexdigest()


def oracle_rows(rc, con, cache, name, sql, corpus_key):
    """Oracle result in tools/check.py's canonical form, cached per corpus
    and oracle text."""
    key = hashlib.sha256((corpus_key + sql).encode()).hexdigest()[:16]
    path = os.path.join(cache, f"{name}-{key}.json")
    if os.path.exists(path):
        with open(path) as fh:
            cols, rows, types = json.load(fh)
        return cols, [tuple(r) for r in rows], types
    cols, rows, types = rc.rows_of(con.sql(sql))
    os.makedirs(cache, exist_ok=True)
    with open(path + ".tmp", "w") as fh:
        json.dump([cols, rows, types], fh)
    os.replace(path + ".tmp", path)
    return cols, rows, types


def corpus_con(corpus):
    con = duckdb.connect()
    for f in sorted(os.listdir(corpus)):
        t = f.removesuffix(".parquet")
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{corpus}/{f}')")
    return con


def compare_result(name, oracle, got):
    (ecols, erows, etypes), (gcols, grows, gtypes) = oracle, got
    if ecols != gcols:
        return [f"{name}: columns {gcols} != oracle {ecols}"]
    if etypes != gtypes:
        return [f"{name}: column types {gtypes} != oracle {etypes}"]
    return compare(name, erows, grows)


def check_corpus(data, res):
    rc = repo_check()
    con = corpus_con(res["corpus_dir"])
    cache = os.path.join(os.path.dirname(os.path.dirname(data)), "oracle")
    corpus_key = corpus_hash(res["corpus_dir"])
    out = []
    for name, sql in sorted(res["oracle_sql"].items()):
        oracle = oracle_rows(rc, con, cache, name, sql, corpus_key)
        got = rc.rows_of(con.sql(
            f"SELECT * FROM read_parquet('{res['dumps']}/{name}/*.parquet')"))
        out += compare_result(name, oracle, got)
    return out


def check(workload, data, res):
    return {"cdc_stream": check_stream,
            "corpus_curation": check_corpus}[workload](data, res)


def self_test():
    """A corrupted result must fail each comparison the checks use."""
    rows = [(1, 10, False, 7, "O", "1.00", 0, "1-URGENT"),
            (2, 20, False, 8, "F", "2.50", 0, "5-LOW"),
            (3, 30, True, 9, "P", "3.75", 0, "2-HIGH")]
    want = {"live": 2, "deleted": 1, "state_digest": state_digest(rows)}
    assert not state_problems(list(reversed(rows)), want)
    for bad in (rows[1:],                                  # key dropped
                [rows[0], rows[1][:5] + ("2.51",) + rows[1][6:], rows[2]],
                rows + [rows[0]],                          # key twice
                rows[:2] + [rows[2][:2] + (False,) + rows[2][3:]]):
        assert state_problems(bad, want), bad
    view = [("F", 250, 1), ("O", 100, 1)]
    assert not compare("view", view, list(reversed(view)))
    assert compare("view", view, view[1:])
    assert compare("view", view, [("F", 251, 1), ("O", 100, 1)])

    rc = repo_check()
    con = duckdb.connect()
    con.sql("CREATE TABLE r AS SELECT * FROM (VALUES (1, 'a', 1.5), "
            "(2, 'b', 2.5), (3, 'c', 3.5)) v(k, s, x)")
    oracle = rc.rows_of(con.sql("SELECT k, s, x FROM r"))
    assert not compare_result("q", oracle, rc.rows_of(
        con.sql("SELECT k, s, x FROM r ORDER BY k DESC")))
    for sql in ("SELECT k, s, x FROM r WHERE k <> 2",
                "SELECT k, s, CASE WHEN k = 2 THEN 2.75 ELSE x END AS x "
                "FROM r",
                "SELECT k, s, CAST(x AS FLOAT) AS x FROM r"):
        assert compare_result("q", oracle, rc.rows_of(con.sql(sql))), sql
    print("self-test passed: a dropped key, a changed value, a key twice, "
          "a resurrected deleted key and a changed column type all fail")


if __name__ == "__main__":
    if sys.argv[1:] == ["--self-test"]:
        self_test()
    else:
        sys.exit(__doc__)
