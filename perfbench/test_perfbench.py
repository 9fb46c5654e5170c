"""Self-tests of the benchmark: its generators are deterministic per seed,
and its output checker catches each kind of wrong output, so the result's
`failed` count can fire.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import base64
import json
import os
import tempfile
import unittest

import check
import gen


def b64(b):
    return base64.b64encode(b).decode("ascii")


def perfect(stream):
    """The deliveries a correct job produces for `stream`, in dump form."""
    rows = []
    for key, (step, value, headers) in stream.expect.items():
        rows.append({"step": step, "epoch": 0, "key": b64(key), "value": b64(value),
                     "headers": [[k, b64(v)] for k, v in headers]})
    for batch, t in stream.terminal.items():
        if t is not None:
            rows.append({"step": "k3", "epoch": 1, "key": b64(batch.encode()),
                         "value": b64(json.dumps(t).encode())})
            rows.append({"step": "k4", "epoch": 1, "batch": batch, "json": json.dumps(t)})
    return rows


class GeneratorTest(unittest.TestCase):
    def test_streams_are_deterministic_per_seed(self):
        for make in (lambda s: gen.drain_stream(s, records=600),
                     lambda s: gen.churn_stream(s, 2)):
            a, b, c = make(7), make(7), make(8)
            self.assertEqual(gen.kafka_rows(a, 0), gen.kafka_rows(b, 0))
            self.assertEqual(a.terminal, b.terminal)
            self.assertNotEqual(gen.kafka_rows(a, 0), gen.kafka_rows(c, 0))

    def test_tables_are_deterministic_per_seed(self):
        import pyarrow.parquet as pq
        rows = {"lineitem": 300, "orders": 100, "events": 200, "documents": 50, "embeddings": 20}
        with tempfile.TemporaryDirectory() as d:
            for sub, seed in (("a", 3), ("b", 3), ("c", 4)):
                gen.tables(os.path.join(d, sub), seed, rows)
            for t in rows:
                read = lambda sub: pq.read_table(os.path.join(d, sub, t + ".parquet"))
                self.assertTrue(read("a").equals(read("b")), t)
                self.assertFalse(read("a").equals(read("c")), t)

    def test_churn_covers_every_batch_kind(self):
        s = gen.churn_stream(1, 10)
        statuses = {t and t["status"] for t in s.terminal.values()}
        self.assertEqual(statuses, {"completed", "failed", None})
        self.assertTrue(s.lookup)
        self.assertIn("k2", {step for step, _, _ in s.expect.values()})


class CheckerTest(unittest.TestCase):
    def setUp(self):
        self.stream = gen.churn_stream(5, 10)
        self.rows = perfect(self.stream)

    def failures(self, rows):
        attempted, failed, problems = check.check_stream(self.stream, rows)
        self.assertEqual(attempted, len(self.stream.expect) + len(self.stream.terminal))
        return failed, problems

    def first(self, step):
        return next(i for i, r in enumerate(self.rows) if r["step"] == step)

    def test_correct_output_passes(self):
        self.assertEqual(self.failures(self.rows), (0, []))

    def test_dropped_record(self):
        del self.rows[self.first("k1")]
        failed, problems = self.failures(self.rows)
        self.assertEqual(failed, 1)
        self.assertIn("missing", problems[0])

    def test_duplicate_record(self):
        self.rows.append(dict(self.rows[self.first("k1")], epoch=9))
        failed, problems = self.failures(self.rows)
        self.assertEqual(failed, 1)
        self.assertIn("delivered 2 times", problems[0])

    def test_misrouted_record(self):
        i = self.first("k1")
        self.rows[i] = dict(self.rows[i], step="k2")
        failed, problems = self.failures(self.rows)
        self.assertEqual(failed, 1)
        self.assertIn("routed to k2", problems[0])

    def test_altered_body_and_headers(self):
        i, j = [k for k, r in enumerate(self.rows) if r["step"] == "k1"][:2]
        self.rows[i] = dict(self.rows[i], value=b64(b"{}"))
        self.rows[j] = dict(self.rows[j], headers=[["batchId", b64(b"other")]])
        failed, problems = self.failures(self.rows)
        self.assertEqual(failed, 2)

    def test_wrong_batch_status(self):
        i = self.first("k3")
        n = json.loads(base64.b64decode(self.rows[i]["value"]))
        n["status"] = "failed" if n["status"] == "completed" else "completed"
        self.rows[i] = dict(self.rows[i], value=b64(json.dumps(n).encode()))
        failed, problems = self.failures(self.rows)
        self.assertEqual(failed, 1)
        self.assertIn("batch", problems[0])

    def test_wrong_record_count(self):
        i = self.first("k4")
        n = json.loads(self.rows[i]["json"])
        n["recordCount"] += 1
        self.rows[i] = dict(self.rows[i], json=json.dumps(n))
        self.assertEqual(self.failures(self.rows)[0], 1)

    def test_notification_for_terminated_batch(self):
        batch = next(b for b, t in self.stream.terminal.items() if t is None)
        t = gen.terminal(gen.notification(batch, "sendCompleted", 1), "completed", 1)
        self.rows.append({"step": "k3", "epoch": 2, "key": b64(batch.encode()),
                          "value": b64(json.dumps(t).encode())})
        self.assertEqual(self.failures(self.rows)[0], 1)


if __name__ == "__main__":
    unittest.main()
