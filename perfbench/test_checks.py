"""Each correctness check passes on a correct output and fails on a
deliberately corrupted one. No Spark: the correct outputs are built here
from the generated inputs.

Run: python3 -m unittest discover -s perfbench -p 'test_*.py'"""

import json
import os
import shutil
import tempfile
import unittest

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import checks
import gen


class Tmp(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.mkdtemp()
        self.inp = os.path.join(self.dir, "input")
        self.chk = os.path.join(self.dir, "check")
        os.makedirs(self.chk)

    def tearDown(self):
        shutil.rmtree(self.dir)

    def write_json(self, name, obj):
        with open(os.path.join(self.chk, name), "w") as f:
            json.dump(obj, f)


class WarehouseChecks(Tmp):
    def setUp(self):
        super().setUp()
        saved = dict(gen.WAREHOUSE)
        gen.WAREHOUSE.update(seed_calls=200, drops=3, drop_calls=40)
        try:
            gen.gen_warehouse(self.inp, 7)
        finally:
            gen.WAREHOUSE.clear()
            gen.WAREHOUSE.update(saved)
        self.processed = ["d0000", "d0001"]
        con = duckdb.connect()
        checks.expected_tables(con, self.inp, self.processed)
        c = lambda *p: os.path.join(self.chk, *p)  # noqa: E731
        for d in ("dim", "ledger", "view"):
            os.makedirs(c(d))
        con.execute(f"COPY exp_calls TO '{c('f_calls')}' (FORMAT PARQUET, PARTITION_BY (init_date))")
        con.execute(f"COPY exp_dim TO '{c('dim', 'p.parquet')}' (FORMAT PARQUET)")
        con.execute(f"COPY (SELECT unnest({self.processed}) AS key) TO "
                    f"'{c('ledger', 'p.parquet')}' (FORMAT PARQUET)")
        con.execute(f"COPY ({checks.expected_view(con, self.inp)}) TO "
                    f"'{c('view', 'p.parquet')}' (FORMAT PARQUET)")
        with open(c("processed.txt"), "w") as f:
            f.write("\n".join(self.processed) + "\n")
        self.write_json("tables.json", {"f_calls": c("f_calls"), "dim": c("dim"),
                                        "ledger": c("ledger")})
        self.con = con

    def rewrite(self, path, sql):
        """Replace the parquet at `path` with `sql` over its current rows (`t`)."""
        self.con.execute(f"CREATE OR REPLACE TABLE t AS SELECT * FROM read_parquet('{path}')")
        self.con.execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET)")

    def test_correct_output_passes(self):
        self.assertEqual(checks.check_warehouse(self.inp, self.chk), [])

    def test_stale_version_in_fact_fails(self):
        part = sorted(p for p in os.listdir(os.path.join(self.chk, "f_calls")))[0]
        path = os.path.join(self.chk, "f_calls", part,
                            os.listdir(os.path.join(self.chk, "f_calls", part))[0])
        self.rewrite(path, "SELECT * REPLACE (last_update_time - INTERVAL 1 DAY "
                           "AS last_update_time) FROM t")
        self.assertTrue(checks.check_warehouse(self.inp, self.chk))

    def test_lost_dimension_row_fails(self):
        self.rewrite(os.path.join(self.chk, "dim", "p.parquet"),
                     "SELECT * FROM t WHERE user_id <> 'a001'")
        self.assertTrue(checks.check_warehouse(self.inp, self.chk))

    def test_drop_processed_twice_fails(self):
        self.rewrite(os.path.join(self.chk, "ledger", "p.parquet"),
                     "SELECT * FROM t UNION ALL SELECT * FROM t LIMIT 1")
        self.assertTrue(checks.check_warehouse(self.inp, self.chk))

    def test_wrong_view_aggregate_fails(self):
        self.rewrite(os.path.join(self.chk, "view", "p.parquet"),
                     "SELECT * REPLACE (total_calls + (row_number() OVER () = 1)::INT "
                     "AS total_calls) FROM t")
        self.assertTrue(checks.check_warehouse(self.inp, self.chk))


class CorpusChecks(Tmp):
    MERGES = [[" ", "s"], ["e", "r"], ["e", " "], ["a", "n"], ["\ue002", " "]]
    K = 10

    def setUp(self):
        super().setUp()
        saved = dict(gen.CORPUS)
        gen.CORPUS.update(prior=100, triggers=4, per_trigger=100, probe_batches=2, probes=4)
        try:
            gen.gen_corpus(self.inp, 7)
        finally:
            gen.CORPUS.clear()
            gen.CORPUS.update(saved)
        with open(os.path.join(self.inp, "labels.json")) as f:
            self.labels = {int(k): v for k, v in json.load(f).items()}
        self.prior = checks._docs(os.path.join(self.inp, "prior", "part.parquet"))
        self.docs = {}
        self.fed = sorted(n for n in os.listdir(os.path.join(self.inp, "triggers")))
        for name in self.fed:
            self.docs.update(checks._docs(os.path.join(self.inp, "triggers", name)))
        with open(os.path.join(self.chk, "triggers.txt"), "w") as f:
            f.write("\n".join(self.fed) + "\n")
        self.write_json("merges.json", self.MERGES)
        self.write_json("serving.json", {"k": self.K})
        # near copies are kept exactly when they are more likely kept than not
        self.accepted = {d for d, lab in self.labels.items() if lab["kind"] == "original" or (
            lab["kind"] == "near_copy" and checks.near_reject_probability(lab["jaccard"]) < 0.5)}
        self.publish(self.accepted)
        self.serve()

    def publish(self, accepted, extra_tokens=0, max_tokens=100):
        ids = sorted(self.prior) + sorted(accepted)
        shutil.rmtree(os.path.join(self.chk, "index_ids"), ignore_errors=True)
        os.makedirs(os.path.join(self.chk, "index_ids"))
        pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64())}),
                       os.path.join(self.chk, "index_ids", "p.parquet"))
        tokens = sum(checks.bpe_tokens([t], self.MERGES) for t in self.prior.values()) + \
            sum(checks.bpe_tokens([self.docs[d]], self.MERGES) for d in accepted)
        self.write_json("store.json", {"tokens": tokens + extra_tokens,
                                       "max_tokens": max_tokens, "budget": 512})

    def serve(self):
        """Exact answers for two reads, each carrying the newest trigger's
        self-probes: probe batch 0 after two triggers, probe batch 1 after
        all four; and a
        consistent but far-off answer for each regular probe."""
        read = lambda p: pq.read_table(p, columns=["doc_id", "embedding"]).to_pydict()  # noqa: E731
        tabs = [read(os.path.join(self.inp, "prior", "part.parquet"))] + [
            read(os.path.join(self.inp, "triggers", n)) for n in self.fed]
        ids = np.array([d for t in tabs for d in t["doc_id"]])
        units = checks._units([v for t in tabs for v in t["embedding"]])
        since = np.array([i for i, t in enumerate(tabs) for _ in t["doc_id"]])
        kept = np.array([s == 0 or int(d) in self.accepted for s, d in zip(since, ids)])
        prb = pq.read_table(os.path.join(self.inp, "probes", "part.parquet")).to_pydict()
        rows, far = [], []
        for op, n_fed in ((0, 2), (1, 4)):
            live = kept & (since <= n_fed)
            probes = [(i, checks._units([v])[0]) for i, v, b in
                      zip(prb["doc_id"], prb["embedding"], prb["batch"]) if b == op]
            with open(os.path.join(self.inp, "self_probes", "t%04d.txt" % (n_fed - 1))) as f:
                probes += [(-int(d), units[list(ids).index(int(d))]) for d in f.read().split()]
            for pid, q in probes:
                d = ((units[live] - q) ** 2).sum(axis=1)
                order = np.lexsort((ids[live], d))
                for r, j in enumerate(order[:self.K]):
                    rows.append((op, op, n_fed, pid, int(ids[live][j]), r + 1, int(d[j])))
                for r, j in enumerate(order[3 * self.K:4 * self.K] if pid >= 0
                                      else order[:self.K]):
                    far.append((op, op, n_fed, pid, int(ids[live][j]), r + 1, int(d[j])))
        self.rows, self.far = rows, far
        self.write_results(rows)

    def write_results(self, rows):
        cols = list(zip(*rows))
        names = ["read_op", "probe_batch", "n_fed", "probe_id", "neighbor_id", "rank",
                 "l2_dist"]
        types = [pa.int32()] * 3 + [pa.int64()] * 4
        shutil.rmtree(os.path.join(self.chk, "results"), ignore_errors=True)
        os.makedirs(os.path.join(self.chk, "results"))
        pq.write_table(pa.table({n: pa.array(c, t) for n, c, t in zip(names, cols, types)}),
                       os.path.join(self.chk, "results", "p.parquet"))

    def kind(self, k):
        return [d for d, lab in self.labels.items() if lab["kind"] == k]

    def test_correct_output_passes(self):
        self.assertEqual(checks.check_corpus(self.inp, self.chk), [])

    def test_bpe_tokens_joined_equals_per_text(self):
        texts = list(self.docs.values())[:50]
        self.assertEqual(checks.bpe_tokens(texts, self.MERGES),
                         sum(checks.bpe_tokens([t], self.MERGES) for t in texts))

    def test_rejected_original_fails(self):
        self.publish(self.accepted - {self.kind("original")[0]})
        self.assertTrue(checks.check_corpus(self.inp, self.chk))

    def test_accepted_copy_fails(self):
        self.publish(self.accepted | {self.kind("exact_copy")[0]})
        self.assertTrue(checks.check_corpus(self.inp, self.chk))

    def test_accepted_contaminated_fails(self):
        self.publish(self.accepted | {self.kind("contaminated")[0]})
        self.assertTrue(checks.check_corpus(self.inp, self.chk))

    def test_near_copies_all_kept_fails(self):
        self.publish(self.accepted | set(self.kind("near_copy")))
        self.assertTrue(checks.check_corpus(self.inp, self.chk))

    def test_token_mass_off_by_one_fails(self):
        self.publish(self.accepted, extra_tokens=1)
        self.assertTrue(checks.check_corpus(self.inp, self.chk))

    def test_sequence_over_budget_fails(self):
        self.publish(self.accepted, max_tokens=513)
        self.assertTrue(checks.check_corpus(self.inp, self.chk))

    def test_gap_in_ranks_fails(self):
        self.write_results([r[:5] + (r[5] + (r[5] > 5),) + r[6:] for r in self.rows])
        self.assertTrue(checks.check_corpus(self.inp, self.chk))

    def test_wrong_distance_fails(self):
        self.write_results([r[:6] + (r[6] + 1,) for r in self.rows])
        self.assertTrue(checks.check_corpus(self.inp, self.chk))

    def test_self_probe_missing_fails(self):
        gone = min(r[3] for r in self.rows)
        self.write_results([r for r in self.rows if r[3] != gone])
        self.assertTrue(checks.check_corpus(self.inp, self.chk))

    def test_low_recall_fails(self):
        self.write_results(self.far)
        self.assertTrue(checks.check_corpus(self.inp, self.chk))


if __name__ == "__main__":
    unittest.main()
