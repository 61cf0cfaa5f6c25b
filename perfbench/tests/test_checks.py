"""The benchmark's output checks must pass right outputs and fail corrupted
ones (a row dropped, a value changed).

    python3 -m unittest discover -s perfbench/tests
"""
import copy
import hashlib
import json
import os
import sys
import tempfile
import unittest

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


def sha(s):
    return hashlib.sha256(s.encode("utf-8")).hexdigest()


# (topic, kind, key, payload): the generator's expectation per message
MESSAGES = [
    ("soccer.event", "valid", "e1", '{"idEvent":"e1","strSport":"Soccer","ingested_at":1717200000}'),
    ("soccer.event", "valid", "e2", '{"idEvent":"e2","strSport":"Soccer","ingested_at":1717200001}'),
    ("soccer.event", "sport", "e3", '{"idEvent":"e3","strSport":"Basketball","ingested_at":1717200002}'),
    ("soccer.team", "missing", "t1", '{"idTeam":"t1","strSport":"Soccer","ingested_at":1717200003}'),
    ("soccer.team", "corrupt", "", '{"idTeam":"t'),
    ("soccer.team", "blank", "", ""),
    ("soccer.odds", "unknown", "", '{"id":"o1"}'),
]


class IngestCheckTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        d = self.tmp.name
        self.corpus = os.path.join(d, "corpus")
        os.makedirs(self.corpus)
        with open(os.path.join(self.corpus, "part-00000.json"), "w") as f:
            for topic, _, _, value in MESSAGES:
                f.write(json.dumps({"topic": topic, "value": value,
                                    "timestamp": "2024-06-01T00:00:00Z"}) + "\n")
        with open(self.corpus + "-expected.tsv", "w") as f:
            for topic, kind, key, _ in MESSAGES:
                f.write(f"{topic}\t{kind}\t{key}\n")
        # the sink rows a correct route emits: (route topic, key, value)
        self.rows = []
        for topic, kind, key, value in MESSAGES:
            name = topic.split(".", 1)[1]
            if kind == "valid":
                self.rows.append((f"validated.soccer.{name}", key, value))
            elif kind in ("sport", "missing"):
                self.rows.append((f"rejected.soccer.{name}", key, value))
            elif kind in ("corrupt", "blank"):
                self.rows.append((f"rejected.soccer.{name}", sha(value),
                                  json.dumps({"json_str": value, "parse_error": True})))

    def tearDown(self):
        self.tmp.cleanup()

    def write_round(self, rows):
        out = tempfile.mkdtemp(dir=self.tmp.name)
        for topic, key, value in rows:
            route = topic.split(".")[0]
            d = os.path.join(out, f"{route}-all", f"topic={topic}")
            os.makedirs(d, exist_ok=True)
            n = len(os.listdir(d))
            pq.write_table(pa.table({"key": [key], "value": [value]}),
                           os.path.join(d, f"part-{n}.parquet"))
        return out

    def check(self, rows):
        return checks.ingest_check({"corpus": self.corpus, "rounds": [self.write_round(rows)]})

    def test_right_output_passes(self):
        self.assertEqual(self.check(self.rows), [])

    def test_each_dropped_row_fails(self):
        for i in range(len(self.rows)):
            rows = self.rows[:i] + self.rows[i + 1:]
            self.assertTrue(self.check(rows), f"dropping row {i} went unnoticed")

    def test_each_changed_key_fails(self):
        for i, (topic, key, value) in enumerate(self.rows):
            rows = list(self.rows)
            rows[i] = (topic, key + "x", value)
            self.assertTrue(self.check(rows), f"changing key {i} went unnoticed")

    def test_swapped_route_fails(self):
        rows = list(self.rows)
        topic, key, value = rows[0]
        rows[0] = (topic.replace("validated", "rejected"), key, value)
        self.assertTrue(self.check(rows))

    def test_unknown_topic_routed_fails(self):
        self.assertTrue(self.check(self.rows + [("rejected.soccer.odds", "o1", "{}")]))


ORACLE = {
    "qa": "SELECT n_regionkey, CAST(count(*) AS BIGINT) AS n FROM nation GROUP BY 1",
    "qb": "SELECT o_orderstatus, CAST(sum(o_totalprice) AS DOUBLE) AS total "
          "FROM orders GROUP BY 1",
}


class QueriesCheckTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.tables = os.path.join(cls.tmp.name, "tables")
        gen.tables(cls.tables, 0.0001, 5)
        con = duckdb.connect()
        for t in checks.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{cls.tables}/{t}.parquet')")
        cls.right = {n: con.sql(sql).arrow() for n, sql in ORACLE.items()}

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def check(self, outputs):
        out = tempfile.mkdtemp(dir=self.tmp.name)
        for name, table in outputs.items():
            os.makedirs(os.path.join(out, name))
            pq.write_table(table, os.path.join(out, name, "part-0.parquet"))
        return checks.queries_check({"tables": self.tables, "out": out, "oracle": ORACLE})

    def test_right_output_passes(self):
        self.assertEqual(self.check(self.right), [])

    def test_dropped_row_fails(self):
        for name, table in self.right.items():
            outputs = dict(self.right, **{name: table.slice(1)})
            self.assertTrue(self.check(outputs), f"{name}: dropped row went unnoticed")

    def test_changed_value_fails(self):
        rows = self.right["qa"].to_pylist()
        rows[0]["n"] += 1
        self.assertTrue(self.check(dict(self.right, qa=pa.Table.from_pylist(
            rows, schema=self.right["qa"].schema))))
        rows = copy.deepcopy(self.right["qb"].to_pylist())
        rows[-1]["total"] *= 1 + 1e-9
        self.assertTrue(self.check(dict(self.right, qb=pa.Table.from_pylist(
            rows, schema=self.right["qb"].schema))))

    def test_missing_output_fails(self):
        self.assertTrue(self.check({"qa": self.right["qa"]}))


class MetricListTest(unittest.TestCase):
    def test_metric_names_match_benchmark_json(self):
        path = os.path.join(HERE, "..", "..", "BENCHMARK.json")
        if not os.path.exists(path):
            self.skipTest("no BENCHMARK.json beside perfbench/")
        with open(path) as f:
            spec = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, run.PER_LAYER)
        self.assertEqual(tuple(w["name"] for w in spec["workloads"]), run.WORKLOADS)


if __name__ == "__main__":
    unittest.main()
