"""Seeded corpus and query-stream generator.

The corpus is built from Spark SQL expressions over ``spark.range`` (no
per-row Python), so generating 1M turns costs a few seconds of JVM time.
Each row is a transcript turn ``(conv_id, turn_idx, role, text, tool)``:

* words follow a Zipf-like law over ``VOCAB`` ranks: ``rank =
  floor((VOCAB+1)^(u^HEAD)) - 1`` for a uniform ``u``.  With HEAD=1 this
  is Zipf(s=1), P(rank r) ∝ ~1/r; HEAD>1 thickens the head so the top
  words sit in most turns, as stopwords do in real transcripts.
  Document frequency spans stopwords down to words seen once;
* the word for rank r is r written in base 26 with letters a..z (offset
  so every word has at least three letters), hence lowercase ASCII
  letters only and ``str.split()`` equals the engine's tokenizer;
* turn length depends on role (short ``user`` turns, longer
  ``assistant`` and ``tool`` turns), so document length has real
  variance;
* ``tool`` turns carry a tool name, the other roles an empty string.

Every random draw is ``xxhash64(seed, row, salt)``, so the same seed
gives the same corpus on any core count and partitioning.
"""

from __future__ import annotations

import math
import random
from dataclasses import dataclass, field

VOCAB = 30_000
HEAD = 1.3
WORD_OFFSET = 26 * 26  # rank 0 -> "baa": three letters minimum
TURNS_PER_CONV = 8
TOOLS = ("bash", "python", "grep", "editor", "browser", "sql")
# role -> (min words, max words); assistant/tool turns are longer
ROLE_LEN = {"user": (3, 14), "assistant": (8, 40), "tool": (6, 30)}
_DIGITS = "0123456789ABCDEFGHIJKLMNOP"  # conv() base-26 alphabet
_LETTERS = "abcdefghijklmnopqrstuvwxyz"


def word(rank: int) -> str:
    """Python twin of the JVM word expression (the tests compare them)."""
    n = rank + WORD_OFFSET
    out = ""
    while n:
        n, d = divmod(n, 26)
        out = _LETTERS[d] + out
    return out


def corpus_df(spark, n_turns: int, seed: int, id_base: int = 0):
    """Transcript DataFrame of ``n_turns`` turns; ``id_base`` offsets the
    row ids so append batches are new conversations of the same law."""
    from pyspark.sql import functions as F

    def u(salt):
        # uniform [0, 1) from a 64-bit hash of (seed, row, salt)
        h = F.xxhash64(F.lit(seed), F.col("id"), F.lit(salt))
        return F.pmod(h, F.lit(1 << 52)) / float(1 << 52)

    def by_role(i):
        return (F.when(F.col("role") == "user", ROLE_LEN["user"][i])
                .when(F.col("role") == "assistant", ROLE_LEN["assistant"][i])
                .otherwise(ROLE_LEN["tool"][i]))

    ids = spark.range(id_base, id_base + n_turns)
    turn = F.col("id") % TURNS_PER_CONV
    role = (F.when(turn == 0, "user")
            .when(u(1) < 0.35, "user")
            .when(u(1) < 0.75, "assistant")
            .otherwise("tool"))
    lo, hi = by_role(0), by_role(1)
    n_words = lo + F.floor(u(2) * (hi - lo + 1)).cast("int")
    ln_v = math.log(VOCAB + 1)
    rank_expr = (
        "transform(sequence(1, n_words), i -> "
        f"least(cast(floor(exp(pow(pmod(xxhash64({int(seed)}, id, 3, i), "
        f"4503599627370496) / 4503599627370496.0, {HEAD!r}) * {ln_v!r}))"
        f" as bigint) - 1, {VOCAB - 1}))"
    )
    word_expr = (
        "concat_ws(' ', transform(ranks, r -> translate(conv(cast(r + "
        f"{WORD_OFFSET} as string), 10, 26), '{_DIGITS}', '{_LETTERS}')))"
    )
    tool_pick = F.element_at(
        F.array(*[F.lit(t) for t in TOOLS]),
        (F.floor(u(4) * len(TOOLS)) + 1).cast("int"))
    return (
        ids.withColumn("role", role)
        .withColumn("n_words", n_words)
        .withColumn("ranks", F.expr(rank_expr))
        .select(
            F.format_string("s%d-c%08d", F.lit(int(seed)),
                            (F.col("id") / TURNS_PER_CONV).cast("long"))
            .alias("conv_id"),
            turn.cast("int").alias("turn_idx"),
            F.col("role"),
            F.expr(word_expr).alias("text"),
            F.when(F.col("role") == "tool", tool_pick)
            .otherwise(F.lit("")).alias("tool"),
        )
    )


# ------------------------------------------------------------ query stream
# Bands are shares of the turn count N.  A search_selective query keeps
# Σdf (sum of its keys' document frequencies) below N/2; a search_broad
# query has Σdf of at least N/2 (single stopword) or N (every other shape).
RARE = (5, 1e-4)         # 5 <= df <= N * 1e-4
MID = (5e-4, 1e-2)       # N * 5e-4 < df <= N * 1e-2
STOP_MIN = 0.1           # df >= N * 0.1
SELECTIVE_MAX = 0.5
BROAD_MIN = 0.5
# the nested 9-12-key shape is drawn until Σdf reaches this many N, so it
# sits above the engine's driver-scoring cap at the benchmark's corpus size
WIDE_MIN = 3.3

SELECTIVE_SHAPES = ("single", "and", "or", "not", "multifield", "paging",
                    "phrase")
BROAD_SHAPES = ("stop_single", "or_rare_anchor", "or_stop_anchor",
                "and_stop", "and_rare_seed", "role_multifield",
                "nested_small", "nested_wide")


@dataclass
class QuerySpec:
    qid: str
    shape: str
    query: dict | None = None     # boolean query (SearchEngine.search)
    phrase: str | None = None     # phrase_search text
    skip: int = 0
    k: int = 10
    keys: list = field(default_factory=list)  # [(field, term)] distinct
    sigma_df: int = 0
    band: str = ""

    def to_json(self) -> dict:
        return {"qid": self.qid, "shape": self.shape, "query": self.query,
                "phrase": self.phrase, "skip": self.skip, "k": self.k,
                "sigma_df": self.sigma_df, "band": self.band}


def query_keys(q: dict) -> list[tuple[str, str]]:
    """Distinct (field, term) keys of a boolean query dict."""
    out: list = []
    for op, clause in q.items():
        for key, val in clause.items():
            if key in ("and", "or", "not"):
                out += query_keys({key: val})
            else:
                out += [(key, t) for t in str(val).split()]
    return list(dict.fromkeys(out))


class Vocab:
    """Text terms grouped by df band, from a {(field, term): df} map."""

    def __init__(self, dfs: dict, n_docs: int):
        self.dfs = dfs
        self.n = n_docs
        text = sorted(((t, d) for (f, t), d in dfs.items() if f == "text"),
                      key=lambda x: (-x[1], x[0]))
        self.rare = [t for t, d in text
                     if RARE[0] <= d <= max(RARE[0], n_docs * RARE[1])]
        self.mid = [t for t, d in text
                    if n_docs * MID[0] < d <= n_docs * MID[1]]
        self.stop = [t for t, d in text if d >= n_docs * STOP_MIN]
        self.tools = sorted(t for (f, t) in dfs if f == "tool")
        if len(self.rare) < 50 or len(self.mid) < 50 or len(self.stop) < 8:
            raise ValueError(
                f"corpus too small for the df bands: {len(self.rare)} rare, "
                f"{len(self.mid)} mid, {len(self.stop)} stop terms")

    def sigma(self, keys) -> int:
        return sum(self.dfs.get(k, 0) for k in keys)


def spec(vocab: Vocab, qid: str, shape: str, query=None, phrase=None,
         skip=0) -> QuerySpec:
    """A QuerySpec with its keys, realized Σdf and band."""
    if phrase is not None:
        keys = [("text", t) for t in dict.fromkeys(phrase.split())]
    else:
        keys = query_keys(query)
    s = QuerySpec(qid=qid, shape=shape, query=query, phrase=phrase,
                  skip=skip, keys=keys, sigma_df=vocab.sigma(keys))
    s.band = "broad" if s.sigma_df >= vocab.n * BROAD_MIN else "selective"
    return s


def _selective(rng: random.Random, vocab: Vocab, shape: str, qid: str,
               phrases: list[str]) -> QuerySpec:
    mid, rare = vocab.mid, vocab.rare
    if shape == "single":
        return spec(vocab, qid, shape, {"and": {"text": rng.choice(mid)}})
    if shape == "and":
        a, b = rng.sample(mid[: len(mid) // 4], 2)  # commoner mids intersect
        return spec(vocab, qid, shape, {"and": {"text": f"{a} {b}"}})
    if shape == "or":
        a, b = rng.sample(mid, 2)
        return spec(vocab, qid, shape,
                     {"or": {"text": f"{a} {rng.choice(rare)} {b}"}})
    if shape == "not":
        a, b = rng.sample(mid, 2)
        return spec(vocab, qid, shape,
                     {"and": {"text": a, "not": {"text": b}}})
    if shape == "multifield":
        return spec(vocab, qid, shape,
                     {"and": {"text": rng.choice(mid),
                              "tool": rng.choice(vocab.tools)}})
    if shape == "paging":
        a, b = rng.sample(mid, 2)
        return spec(vocab, qid, shape, {"or": {"text": f"{a} {b}"}}, skip=10)
    if shape == "phrase":
        return spec(vocab, qid, shape, phrase=rng.choice(phrases))
    raise ValueError(shape)


def _pick_stops(rng, vocab: Vocab, n: int, target: float,
                field: str = "text", extra=(), slack: float = 1.3
                ) -> list[str]:
    """n distinct stopwords whose Σdf (plus ``extra`` keys) lies in
    [target, target * slack]: a narrow band keeps a shape's cost alike
    across seeds.  Falls back to the commonest words."""
    pool = vocab.stop[: max(n + 4, 16)]
    for _ in range(500):
        pick = rng.sample(pool, n)
        sig = vocab.sigma([(field, t) for t in pick] + list(extra))
        if target <= sig <= target * slack:
            return pick
    return pool[:n]


def _broad(rng: random.Random, vocab: Vocab, shape: str,
           qid: str) -> QuerySpec:
    n = vocab.n
    if shape == "stop_single":
        # only the head of the law reaches df >= N/2
        head = [t for t in vocab.stop
                if vocab.dfs[("text", t)] >= n * BROAD_MIN]
        return spec(vocab, qid, shape, {"and": {"text": rng.choice(head)}})
    if shape == "or_rare_anchor":
        s = _pick_stops(rng, vocab, 3, n)
        return spec(vocab, qid, shape,
                     {"or": {"text": " ".join([rng.choice(vocab.rare)] + s)}})
    if shape == "or_stop_anchor":
        s = _pick_stops(rng, vocab, 2, n)
        return spec(vocab, qid, shape,
                     {"or": {"text": " ".join(s + [rng.choice(vocab.mid)])}})
    if shape == "and_stop":
        s = _pick_stops(rng, vocab, 3, n)
        return spec(vocab, qid, shape, {"and": {"text": " ".join(s)}})
    if shape == "and_rare_seed":
        s = _pick_stops(rng, vocab, 2, n)
        return spec(vocab, qid, shape,
                     {"and": {"text": " ".join([rng.choice(vocab.rare)] + s)}})
    if shape == "role_multifield":
        role = rng.choice(["user", "assistant"])
        s = _pick_stops(rng, vocab, 2, n, extra=[("role", role)])
        return spec(vocab, qid, shape,
                     {"and": {"role": role, "text": " ".join(s)}})
    if shape == "nested_small":
        a, b = _pick_stops(rng, vocab, 2, n, extra=[("role", "tool")])
        return spec(vocab, qid, shape,
                     {"and": {"text": a, "or": {"text": b},
                              "not": {"role": "tool"}}})
    if shape == "nested_wide":
        # 10 text + 2 role keys: 4095 mask classes, past the 256-class
        # when-chain limit of the distributed fold
        roles = ["user", "assistant"]
        s = _pick_stops(rng, vocab, 10, n * WIDE_MIN,
                        extra=[("role", r) for r in roles], slack=1.1)
        q = {"or": {"text": " ".join(s[:4]), "role": roles[0],
                    "and": {"text": " ".join(s[4:9]), "role": roles[1],
                            "not": {"text": s[9]}}}}
        return spec(vocab, qid, shape, q)
    raise ValueError(shape)


def phrase_candidates(texts: list[str], vocab: Vocab, rng: random.Random,
                      n: int) -> list[str]:
    """2-3-word phrases cut from real turns, every word outside the
    stopword band (so a phrase query stays selective)."""
    ok = set(vocab.rare) | set(vocab.mid)
    out: list[str] = []
    for text in texts:
        words = text.split()
        size = rng.choice((2, 3))
        starts = [i for i in range(len(words) - size + 1)
                  if all(w in ok for w in words[i:i + size])]
        if starts:
            i = rng.choice(starts)
            out.append(" ".join(words[i:i + size]))
        if len(out) >= n:
            break
    if not out:
        raise ValueError("no phrase candidates in the sampled turns")
    return out


def query_stream(workload: str, vocab: Vocab, seed: int, per_shape: int,
                 phrases: list[str] = (), shapes=None) -> list[QuerySpec]:
    """The distinct queries of one search workload, drawn from ``seed``:
    ``per_shape`` of each of ``shapes`` (default: all of the workload's).
    Raises if a drawn query falls outside its workload's band."""
    rng = random.Random(f"{workload}:{seed}")
    out: list[QuerySpec] = []
    selective = workload == "search_selective"
    if shapes is None:
        shapes = SELECTIVE_SHAPES if selective else BROAD_SHAPES
    for i in range(per_shape):
        for shape in shapes:
            if shape == "nested_wide" and i:
                # one per stream: a distributed fold costs ~10x the
                # driver-scored shapes, and repeats would crowd them out
                continue
            qid = f"{shape}.{i}"
            if selective:
                s = _selective(rng, vocab, shape, qid, list(phrases))
            else:
                s = _broad(rng, vocab, shape, qid)
            if s.band != ("selective" if selective else "broad"):
                raise ValueError(f"{qid} drew Σdf={s.sigma_df} ({s.band}) "
                                 f"for {workload}, N={vocab.n}")
            out.append(s)
    return out
