"""Output checks for the three workloads, computed apart from the program.

Each check returns a list of failure strings (empty when the outputs are
right). Neither compares against a stored copy of the program's output:
``ingest`` compares against what the generator meant each message to be
and hashes parse rejects with ``hashlib``; ``queries`` compares against
each query's oracle SQL run in DuckDB over the same generated tables.
"""
import glob
import hashlib
import json
import math
import os
from collections import Counter, defaultdict

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


# ---------------------------------------------------------------- ingest
def ingest_expected(corpus_dir: str):
    """Per-topic Counters of the keys each route must emit, and the number
    of messages on contract topics, from the corpus files and the
    generator's ``<corpus_dir>-expected.tsv``."""
    with open(corpus_dir.rstrip("/") + "-expected.tsv", encoding="utf-8") as f:
        kinds = [line.rstrip("\n").split("\t") for line in f]
    msgs = []
    for path in sorted(glob.glob(os.path.join(corpus_dir, "part-*.json"))):
        with open(path, encoding="utf-8") as f:
            msgs.extend(json.loads(line) for line in f)
    if len(msgs) != len(kinds):
        raise ValueError(f"{len(msgs)} messages but {len(kinds)} expectations")
    valid, schema_rej, parse_rej = (defaultdict(Counter) for _ in range(3))
    known = 0
    for msg, (topic, kind, key) in zip(msgs, kinds):
        if msg["topic"] != topic:
            raise ValueError(f"corpus and expected.tsv disagree: {msg['topic']} vs {topic}")
        if kind == "unknown":
            continue
        known += 1
        name = topic.split(".", 1)[1]
        if kind == "valid":
            valid[name][key] += 1
        elif kind in ("sport", "missing"):
            schema_rej[name][key] += 1
        else:  # corrupt or blank: keyed by the SHA-256 of the raw payload
            parse_rej[name][hashlib.sha256(msg["value"].encode("utf-8")).hexdigest()] += 1
    return valid, schema_rej, parse_rej, known


def ingest_rows(round_dir: str, con=None):
    """(route, topic name, key, parse_error) for every sink row."""
    con = con or duckdb.connect()
    rows = []
    for route in ("validated", "rejected"):
        files = glob.glob(os.path.join(round_dir, f"{route}-all", "topic=*", "*.parquet"))
        if not files:
            continue
        rows += con.execute(
            "SELECT topic, key, "
            "coalesce(try_cast(json_extract(value, '$.parse_error') AS BOOLEAN), false) "
            "FROM read_parquet(?, hive_partitioning = true)", [files]).fetchall()
    out = []
    for topic, key, pe in rows:
        route, _, name = topic.split(".", 2)
        out.append((route, name, key, bool(pe)))
    return out


def ingest_check(info: dict) -> list:
    valid, schema_rej, parse_rej, known = ingest_expected(info["corpus"])
    fails = []
    con = duckdb.connect()
    for r, round_dir in enumerate(info["rounds"]):
        got_valid, got_schema, got_parse = (defaultdict(Counter) for _ in range(3))
        rows = ingest_rows(round_dir, con)
        for route, name, key, pe in rows:
            if route == "validated":
                if pe:
                    fails.append(f"round {r}: parse error routed as validated ({name})")
                got_valid[name][key] += 1
            elif pe:
                got_parse[name][key] += 1
            else:
                got_schema[name][key] += 1
        for label, exp, got in (("validated", valid, got_valid),
                                ("schema-rejected", schema_rej, got_schema),
                                ("parse-rejected", parse_rej, got_parse)):
            for name in sorted(set(exp) | set(got)):
                if exp[name] != got[name]:
                    e, g = sum(exp[name].values()), sum(got[name].values())
                    diff = list((exp[name] - got[name]) + (got[name] - exp[name]))[:3]
                    fails.append(f"round {r}: {label} {name}: expected {e} rows, "
                                 f"got {g}; differing keys e.g. {diff}")
        if len(rows) != known:
            fails.append(f"round {r}: {len(rows)} routed rows, {known} contract-topic messages")
    return fails


# --------------------------------------------------------------- queries
def _parquet(path: str) -> str:
    return f"read_parquet('{path}/*.parquet')"


def frames_equal(exp: pd.DataFrame, got: pd.DataFrame) -> str:
    """'' when equal under the oracle gate's rules: columns sorted by
    name, rows sorted by all columns, floats equal within 1e-12, NaN
    equal to NaN."""
    exp = exp.reindex(sorted(exp.columns), axis=1)
    got = got.reindex(sorted(got.columns), axis=1)
    if list(exp.columns) != list(got.columns):
        return f"columns differ: oracle={list(exp.columns)} spark={list(got.columns)}"
    if len(exp) != len(got):
        return f"row count differs: oracle={len(exp)} spark={len(got)}"
    if len(exp.columns) == 0:
        return ""
    exp = exp.sort_values(by=list(exp.columns)).reset_index(drop=True)
    got = got.sort_values(by=list(got.columns)).reset_index(drop=True)
    for c in exp.columns:
        for i, (a, b) in enumerate(zip(exp[c], got[c])):
            a_nan = isinstance(a, float) and math.isnan(a)
            b_nan = isinstance(b, float) and math.isnan(b)
            if a_nan or b_nan:
                if a_nan != b_nan:
                    return f"first diff at col={c} row={i}: oracle={a!r} spark={b!r}"
                continue
            if isinstance(a, float) and isinstance(b, float):
                if abs(a - b) > 1e-12:
                    return f"first diff at col={c} row={i}: oracle={a!r} spark={b!r}"
            elif a != b:
                return f"first diff at col={c} row={i}: oracle={a!r} spark={b!r}"
    return ""


def queries_check(info: dict) -> list:
    con = duckdb.connect()
    tables = info["tables"]
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables}/{t}.parquet')")
    fails = []
    for name, sql in sorted(info["oracle"].items()):
        try:
            exp = con.sql(sql).df()
        except Exception as e:  # an oracle that cannot run is a failed check
            fails.append(f"{name}: oracle SQL error: {e}")
            continue
        try:
            got = con.sql(f"SELECT * FROM {_parquet(os.path.join(info['out'], name))}").df()
        except Exception as e:
            fails.append(f"{name}: output missing: {e}")
            continue
        msg = frames_equal(exp, got)
        if msg:
            fails.append(f"{name}: {msg}")
    return fails


