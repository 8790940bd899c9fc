"""Output checks. Each returns a list of (name, ok, detail) verdicts; a run is
correct only if every verdict is ok. The checks compare the program's
outputs with what the benchmark itself knows about the inputs it generated,
never with another output of the same run."""

import csv
import glob
import json
import os
import re

import duckdb

from gen import rows_digest


def _verdict(name, ok, detail):
    return (name, bool(ok), detail)


# --------------------------------------------------------------------------
# etl_ingest: the final snapshot equals the generator's last-write-wins model
# --------------------------------------------------------------------------

def snapshot_rows(snapshot_dir):
    files = glob.glob(os.path.join(snapshot_dir, "bucket=*", "*.parquet"))
    if not files:
        return []
    con = duckdb.connect()
    return con.execute(
        "SELECT pulse_id, pulse_name, pulse_modified FROM read_parquet(?, hive_partitioning = true)",
        [files]).fetchall()


def etl_verdicts(rows, quarantined_per_pass, valid_per_pass, model):
    digest = rows_digest(rows)
    return [
        _verdict("snapshot_rows", len(rows) == model["rows"], "%d rows, model %d" % (len(rows), model["rows"])),
        _verdict("snapshot_digest", digest == model["digest"], digest[:16] + " vs model " + model["digest"][:16]),
        _verdict("quarantined", all(q == model["malformed"] for q in quarantined_per_pass),
                 "per pass %s, generator %d" % (quarantined_per_pass, model["malformed"])),
        _verdict("valid_upserted", all(v == sum(model["valid_per_batch"]) for v in valid_per_pass),
                 "per pass %s, generator %d" % (valid_per_pass, sum(model["valid_per_batch"]))),
    ]


# --------------------------------------------------------------------------
# corpus_index, corpus half: the packed output equals a DuckDB replay of
# the x335 corpus-build oracle
# --------------------------------------------------------------------------

CORPUS_COLS = ["doc_id", "n_tokens", "shard", "seq_in_shard", "offset_in_seq", "source",
               "restore_factor_ppm"]

# Materialization hints for CTEs the oracle references more than once (or
# inside its recursive closure). They change DuckDB's evaluation plan, not the
# result; without them the replay re-runs the mining pipeline per recursion
# step and takes minutes at 50k docs.
MATERIALIZE = ("xsh", "prs", "sym")


def _canon(rows):
    return [tuple(None if v is None else (v if isinstance(v, str) else int(v)) for v in r) for r in rows]


def oracle_rows(documents_parquet, oracle_sql):
    sql = oracle_sql
    for name in MATERIALIZE:
        sql = re.sub(r"\b%s AS \(" % name, "%s AS MATERIALIZED (" % name, sql, count=1)
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet('%s')"
                % documents_parquet.replace("'", "''"))
    return _canon(con.execute("SELECT %s FROM (%s)" % (", ".join(CORPUS_COLS), sql)).fetchall())


def oracle_summary(documents_parquet, oracle_sql, cache_path):
    """Row count and digest of the oracle replay, computed once per input."""
    if os.path.exists(cache_path):
        with open(cache_path) as f:
            return json.load(f)
    rows = oracle_rows(documents_parquet, oracle_sql)
    summary = {"rows": len(rows), "digest": rows_digest(rows)}
    tmp = cache_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(summary, f)
    os.replace(tmp, cache_path)
    return summary


def packed_rows(packed_dir):
    con = duckdb.connect()
    return _canon(con.execute("SELECT %s FROM read_parquet(?)" % ", ".join(CORPUS_COLS),
                              [os.path.join(packed_dir, "*.parquet")]).fetchall())


def corpus_verdicts(rows, oracle):
    digest = rows_digest(rows)
    return [
        _verdict("oracle_rows", len(rows) == oracle["rows"], "%d rows, oracle %d" % (len(rows), oracle["rows"])),
        _verdict("oracle_digest", digest == oracle["digest"], digest[:16] + " vs oracle " + oracle["digest"][:16]),
    ]


# --------------------------------------------------------------------------
# corpus_index, vector half: complete results, no tombstoned id, no self-match
# --------------------------------------------------------------------------

def results_rows(results_csv):
    with open(results_csv) as f:
        return [(int(r["round"]), int(r["query_id"]), int(r["neighbor_id"])) for r in csv.DictReader(f)]


def _ids(path):
    return [r[0] for r in duckdb.connect().execute(
        "SELECT vec_id FROM read_parquet(?)", [path]).fetchall()]


def vector_inputs(inputs_dir):
    """Per round: the probe query ids and the ids deleted before the probe."""
    rounds = sorted(glob.glob(os.path.join(inputs_dir, "rounds", "d*.parquet")))
    queries, tombstoned, dead = [], [], set()
    for r in range(len(rounds)):
        queries.append([i for path in sorted(glob.glob(os.path.join(
            inputs_dir, "rounds", "q%02d_*.parquet" % r))) for i in _ids(path)])
        tombstoned.append(set(dead))
        dead.update(_ids(os.path.join(inputs_dir, "rounds", "d%02d.parquet" % r)))
    return queries, tombstoned


def vector_verdicts(rows, queries, tombstoned, k):
    per_query = {}
    for r, q, n in rows:
        per_query[(r, q)] = per_query.get((r, q), 0) + 1
    short = [(r, q) for r, qs in enumerate(queries) for q in qs if per_query.get((r, q), 0) != k]
    dead_hits = [(r, q, n) for r, q, n in rows if n in tombstoned[r]]
    self_hits = [(r, q, n) for r, q, n in rows if q == n]
    return [
        _verdict("complete", not short, "%d queries without exactly %d results" % (len(short), k)),
        _verdict("no_tombstoned", not dead_hits, "%d results name a deleted id" % len(dead_hits)),
        _verdict("no_self_match", not self_hits, "%d results match their query" % len(self_hits)),
    ]
