"""The oracle check's OracleIndex holds postings only for the queried
terms; its answers must equal the full reference oracle's."""

import json
import random

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import gen, oracle
from resin_spark.reference import build_oracle_index, oracle_search


def _rows(n=400, seed=0):
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        role = rng.choice(["user", "assistant", "tool"])
        words = [gen.word(min(int(rng.paretovariate(1.0)) - 1, 40))
                 for _ in range(rng.randint(3, 12))]
        rows.append({"conv_id": f"c{i // 5:04d}", "turn_idx": i % 5,
                     "role": role, "text": " ".join(words),
                     "tool": rng.choice(gen.TOOLS) if role == "tool" else ""})
    return rows


def test_subset_index_matches_the_full_oracle(tmp_path):
    rows = _rows()
    path = str(tmp_path / "corpus.parquet")
    pq.write_table(pa.Table.from_pylist(rows), path)
    w = [gen.word(r) for r in range(6)]
    queries = [
        {"and": {"text": w[0]}},
        {"or": {"text": f"{w[1]} {w[2]} {w[5]}"}},
        {"and": {"text": w[0], "not": {"text": w[3]}}},
        {"and": {"role": "tool", "text": w[1], "or": {"tool": "bash"}}},
    ]
    specs = [{"qid": f"q{i}", "query": q, "phrase": None, "k": 10,
              "skip": 2 if i == 1 else 0, "keys": gen.query_keys(q),
              "sigma_df": 0} for i, q in enumerate(queries)]
    phrase = " ".join(rows[7]["text"].split()[:2])
    specs.append({"qid": "p", "query": None, "phrase": phrase, "k": 10,
                  "skip": 0, "keys": [["text", t] for t in phrase.split()],
                  "sigma_df": 0})
    got = oracle._worker([path], specs)
    # the same answers through worker processes, split across two
    split = oracle.expected_topk([([path], specs[:2]), ([path], specs[2:])],
                                 str(tmp_path), procs=2)
    assert split == json.loads(json.dumps(got))
    full = build_oracle_index(rows)
    for s in specs[:-1]:
        want = oracle_search(full, s["query"], k=10, skip=s["skip"])
        assert got[s["qid"]] == [[list(k), v] for k, v in want]
        assert got[s["qid"]], s["qid"]
    needle = f" {phrase} "
    want = [h for h in oracle_search(full, {"and": {"text": phrase}}, k=0)
            if needle in " " + full.docs[h[0]]["text"] + " "][:10]
    assert got["p"] == [[list(k), v] for k, v in want] and want
