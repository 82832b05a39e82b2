"""Oracle check: every distinct query's top-k against
``resin_spark.reference.oracle_search``.

Building the oracle over the whole corpus would cost minutes of pure
Python per run, so each check builds an ``OracleIndex`` that holds
postings only for the terms its queries use, with the full corpus's
``n_docs``, ``total_tokens`` and doclens: the oracle's BM25 reads nothing
else.  Tokens come from ``str.split`` semantics (Arrow's whitespace
split), which equals ``tokenize_py`` on the generated text (lowercase
ASCII words separated by single spaces); ``check_tokenizer`` asserts that
on a sample of every field.

Phrase queries are checked the way the engine's own tests define them:
the oracle's AND ranking of the phrase's terms, restricted to turns whose
text contains the phrase as consecutive tokens.

Checks run outside the timed region in a few worker processes
(pure-Python BM25 over a stopword's postings takes seconds); a run
starts them before it starts Spark and collects them before it times
anything, so they overlap the JVM's start-up:
``python3 -m perfbench.oracle <task.json> <out.json>``.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

FIELDS = ("text", "role", "tool")
SCORE_TOL = 1e-9
# a worker's corpus read and split costs about as much as BM25 over this
# many postings, so a job is split across workers only above it
SPLIT_POSTINGS = 500_000


def _read(paths: list[str]):
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbls = [pq.read_table(p, columns=["conv_id", "turn_idx", *FIELDS])
            for p in paths]
    return pa.concat_tables(tbls) if len(tbls) > 1 else tbls[0]


def _tokens(col):
    import pyarrow.compute as pc

    col = pc.if_else(pc.equal(col, ""), None, col)
    return pc.utf8_split_whitespace(col)


def check_tokenizer(paths: list[str], n: int = 300) -> None:
    """Raise if whitespace splitting differs from the engine tokenizer on
    the first ``n`` rows of each field."""
    from resin_spark.tokenizer import tokenize_py

    import pyarrow.dataset as pads

    tbl = pads.dataset(paths[0], format="parquet").head(
        n, columns=list(FIELDS))
    for f in FIELDS:
        for v in tbl.column(f).to_pylist():
            if (v or "").split() != tokenize_py(v):
                raise AssertionError(f"tokenizer mismatch on {f}={v!r}")


def build_index(paths: list[str], keys_by_field: dict[str, set[str]]):
    """OracleIndex over the corpus at ``paths`` holding postings only for
    ``keys_by_field``; also returns the text column for phrase checks."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    from resin_spark.reference import OracleIndex

    tbl = _read(paths)
    keys = list(zip(tbl.column("conv_id").to_pylist(),
                    tbl.column("turn_idx").to_pylist()))
    idx = OracleIndex(n_docs=len(keys))
    for f in FIELDS:
        toks = _tokens(tbl.column(f).combine_chunks())
        lens = pc.fill_null(pc.list_value_length(toks), 0).to_numpy()
        nz = np.nonzero(lens)[0]
        idx.doclens[f] = dict(zip([keys[i] for i in nz], lens[nz].tolist()))
        idx.total_tokens[f] = int(lens.sum())
        terms = sorted(keys_by_field.get(f, ()))
        post: dict[str, dict] = {t: {} for t in terms}
        idx.postings[f] = post
        if not terms:
            continue
        flat = pc.list_flatten(toks)
        parent = pc.list_parent_indices(toks)
        tid = pc.index_in(flat, value_set=pa.array(terms))
        hit = pc.is_valid(tid)
        doc = parent.filter(hit).to_numpy().astype(np.int64)
        term = tid.filter(hit).to_numpy().astype(np.int64)
        # term-major codes: each term's postings are one run, in doc order
        code, tf = np.unique(term * len(keys) + doc, return_counts=True)
        cut = np.searchsorted(code, np.arange(len(terms) + 1) * len(keys))
        for i, t in enumerate(terms):
            docs = (code[cut[i]:cut[i + 1]] - i * len(keys)).tolist()
            post[t] = dict(zip([keys[d] for d in docs],
                               tf[cut[i]:cut[i + 1]].tolist()))
    return idx, keys, tbl.column("text")


def _expected(spec: dict, idx, row, text) -> list:
    from resin_spark.reference import oracle_search

    k, skip = spec["k"], spec["skip"]
    if spec.get("phrase") is None:
        hits = oracle_search(idx, spec["query"], k=k, skip=skip)
    else:
        phrase = spec["phrase"]
        needle = f" {phrase} "
        ranked = oracle_search(idx, {"and": {"text": phrase}}, k=0)
        kept = [h for h in ranked
                if needle in f" {text[row[h[0]]].as_py()} "]
        hits = kept[skip:skip + k]
    return [[list(key), float(s)] for key, s in hits]


def _worker(paths: list[str], specs: list[dict]) -> dict:
    by_field: dict[str, set[str]] = {}
    for s in specs:
        for f, t in s["keys"]:
            by_field.setdefault(f, set()).add(t)
    idx, keys, text = build_index(paths, by_field)
    row = {key: i for i, key in enumerate(keys)}
    return {s["qid"]: _expected(s, idx, row, text) for s in specs}


def start(jobs: list[tuple[list[str], list[dict]]], work_dir: str,
          procs: int = 3, tag: str = "oracle") -> list:
    """Launches the workers for every (corpus paths, query specs) job and
    returns their handles for ``finish``; qids are unique across jobs.
    Specs carry ``qid``, ``keys``, ``query`` or ``phrase``, ``k``,
    ``skip`` and ``sigma_df``, which balances the work over at most
    ``procs`` worker processes.  Workers exchange JSON files in
    ``work_dir``, named after ``tag``."""
    chunks = []  # (load, paths, specs)
    for paths, specs in jobs:
        total = sum(s["sigma_df"] for s in specs)
        n = max(1, min(procs, len(specs), 1 + total // SPLIT_POSTINGS))
        bins: list[list] = [[] for _ in range(n)]
        load = [0] * n
        for s in sorted(specs, key=lambda s: -s["sigma_df"]):
            i = load.index(min(load))
            bins[i].append(s)
            load[i] += s["sigma_df"]
        chunks += [(ld + SPLIT_POSTINGS, paths, b)
                   for ld, b in zip(load, bins) if b]
    workers: list[list] = [[] for _ in range(min(procs, len(chunks)))]
    load = [0] * len(workers)
    for ld, paths, specs in sorted(chunks, key=lambda c: -c[0]):
        i = load.index(min(load))
        workers[i].append({"paths": paths, "specs": specs})
        load[i] += ld
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pending: list = []
    try:
        for i, task in enumerate(workers):
            src = os.path.join(work_dir, f"{tag}-{i}.in.json")
            dst = os.path.join(work_dir, f"{tag}-{i}.out.json")
            with open(src, "w") as f:
                json.dump(task, f)
            pending.append((subprocess.Popen(
                [sys.executable, "-m", "perfbench.oracle", src, dst],
                cwd=root), dst))
    except BaseException:
        stop(pending)
        raise
    return pending


def stop(pending: list) -> None:
    """Kills the workers still running and waits for every one."""
    for p, _ in pending:
        if p.poll() is None:
            p.kill()
        p.wait()


def finish(pending: list, timeout: float = 170) -> dict:
    """qid -> oracle top-k, once every worker of ``pending`` is done."""
    try:
        for p, _ in pending:
            if p.wait(timeout=timeout) != 0:
                raise RuntimeError(f"oracle worker exited with "
                                   f"{p.returncode}")
    finally:
        stop(pending)
    want: dict = {}
    for _, dst in pending:
        with open(dst) as f:
            want.update(json.load(f))
    return want


def expected_topk(jobs: list[tuple[list[str], list[dict]]], work_dir: str,
                  procs: int = 3) -> dict:
    """``start`` and ``finish`` in one call."""
    return finish(start(jobs, work_dir, procs))


def same_topk(got: list, want: list) -> bool:
    """Keys equal in order, scores within SCORE_TOL."""
    if [tuple(g[0]) for g in got] != [tuple(w[0]) for w in want]:
        return False
    return all(math.isclose(g[1], w[1], rel_tol=0, abs_tol=SCORE_TOL)
               for g, w in zip(got, want))


if __name__ == "__main__":
    with open(sys.argv[1]) as f:
        chunks = json.load(f)
    out: dict = {}
    for c in chunks:
        out.update(_worker(c["paths"], c["specs"]))
    with open(sys.argv[2], "w") as f:
        json.dump(out, f)
