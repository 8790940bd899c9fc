"""Tests of the benchmark's own parts: the generators are deterministic per
seed, and each output check fails when one row of a correct output is
dropped. Run with:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import json
import os
import shutil
import tempfile
import unittest

import duckdb

import checks
import gen
from run import K


class Scratch(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp(prefix="perfbench-test-")

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)

    def generate(self, workload, seed, name):
        return gen.generate(workload, seed, os.path.join(self.tmp, name))


class GeneratorTest(Scratch):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        for w in ("etl_ingest", "corpus_index"):
            a = self.generate(w, 7, w + "-a")
            b = self.generate(w, 7, w + "-b")
            c = self.generate(w, 8, w + "-c")
            self.assertEqual(a["sha256"], b["sha256"], w)
            self.assertEqual(a["bytes"], b["bytes"], w)
            self.assertNotEqual(a["sha256"], c["sha256"], w)


def failing(verdicts):
    return [name for name, ok, _ in verdicts if not ok]


class EtlCheckTest(Scratch):
    def test_snapshot_check_catches_a_dropped_row(self):
        m = self.generate("etl_ingest", 3, "etl")["model"]
        with open(os.path.join(self.tmp, "etl", "model", "expected_rows.json")) as f:
            rows = [tuple(r) for r in json.load(f)]
        quarantined = [m["malformed"]]
        valid = [sum(m["valid_per_batch"])]
        self.assertEqual(failing(checks.etl_verdicts(rows, quarantined, valid, m)), [])
        self.assertIn("snapshot_rows", failing(checks.etl_verdicts(rows[1:], quarantined, valid, m)))
        self.assertIn("snapshot_digest", failing(checks.etl_verdicts(rows[1:], quarantined, valid, m)))
        self.assertIn("quarantined", failing(checks.etl_verdicts(rows, [m["malformed"] - 1], valid, m)))

    def test_snapshot_rows_reads_bucket_directories(self):
        snap = os.path.join(self.tmp, "snap")
        for b in (0, 1):
            os.makedirs(os.path.join(snap, "bucket=%d" % b))
            duckdb.connect().execute(
                "COPY (SELECT %d::BIGINT AS pulse_id, 'n' AS pulse_name, 'm' AS pulse_modified) TO '%s'"
                % (b, os.path.join(snap, "bucket=%d" % b, "part-0.parquet")))
        self.assertEqual(sorted(checks.snapshot_rows(snap)), [(0, "n", "m"), (1, "n", "m")])


class CorpusCheckTest(Scratch):
    def test_oracle_check_catches_a_dropped_row(self):
        rows = [(i, 40 + i, i % 8, 0, 10 * i, "src%d" % (i % 3), 1000000 + i) for i in range(50)]
        rows.append((99, 33, 1, 0, 0, "src9", None))
        oracle = {"rows": len(rows), "digest": gen.rows_digest(rows)}
        self.assertEqual(failing(checks.corpus_verdicts(rows, oracle)), [])
        self.assertEqual(failing(checks.corpus_verdicts(rows[:-1], oracle)),
                         ["oracle_rows", "oracle_digest"])

    def test_oracle_replay_materializes_without_changing_results(self):
        docs = os.path.join(self.tmp, "docs.parquet")
        duckdb.connect().execute(
            "COPY (SELECT 1::BIGINT AS doc_id, 'a b' AS text) TO '%s'" % docs)
        sql = "WITH xsh AS (SELECT doc_id FROM documents), prs AS (SELECT * FROM xsh), " \
              "sym AS (SELECT * FROM prs) SELECT doc_id, 1 AS n_tokens, 0 AS shard, " \
              "0 AS seq_in_shard, 0 AS offset_in_seq, 'src0' AS source, " \
              "NULL AS restore_factor_ppm FROM sym"
        self.assertEqual(checks.oracle_rows(docs, sql), [(1, 1, 0, 0, 0, "src0", None)])


class VectorCheckTest(Scratch):
    def test_result_check_catches_a_dropped_row_a_tombstone_and_a_self_match(self):
        m = self.generate("corpus_index", 5, "vec")
        queries, tombstoned = checks.vector_inputs(os.path.join(self.tmp, "vec"))
        self.assertEqual(len(queries), m["vectors"]["rounds"])
        self.assertEqual([len(qs) for qs in queries],
                         [gen.VECTORS["queries_per_round"]] * len(queries))
        dead = sorted(tombstoned[-1])
        rows, fresh = [], 10 ** 9
        for r, qs in enumerate(queries):
            for q in qs:
                for _ in range(K):
                    rows.append((r, q, fresh))
                    fresh += 1
        self.assertEqual(failing(checks.vector_verdicts(rows, queries, tombstoned, K)), [])
        self.assertEqual(failing(checks.vector_verdicts(rows[1:], queries, tombstoned, K)),
                         ["complete"])
        last = len(queries) - 1
        i = next(i for i, x in enumerate(rows) if x[0] == last)
        swapped = list(rows)
        swapped[i] = (rows[i][0], rows[i][1], dead[0])
        self.assertIn("no_tombstoned", failing(checks.vector_verdicts(swapped, queries, tombstoned, K)))
        selfie = [(rows[0][0], rows[0][1], rows[0][1])] + rows[1:]
        self.assertIn("no_self_match", failing(checks.vector_verdicts(selfie, queries, tombstoned, K)))


if __name__ == "__main__":
    unittest.main()
