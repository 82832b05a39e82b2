"""Distributed inverted-index build (SURVEY.md §2.4 I1-I13, §3.2).

Replaces the reference's concurrent in-memory similarity-tree insert
(/root/reference/src/Sir.VectorSpace/VectorNode.cs:114-171 MergeOrAdd*)
with a declarative aggregation Catalyst can optimize end-to-end:

    transcripts
      -> doc_id assign (ids.py; join conv_dim)                    [narrow]
      -> tokenize + per-doc dl (JVM regex split, codegen)         [narrow]
      -> repartition(field, term, block_id)
         + sortWithinPartitions(key, doc_id)                      [ONE shuffle,
                                                         disk-backed sort]
      -> streaming mapInPandas: merge dups -> tf, block stats,
         delta+varint encode (one Arrow batch in memory)          [narrow]
      -> write Parquet (zstd), sorted by (field, term)            [sink]
    doclens (opt-in) and stats need no extra shuffle: dl is an array
    size computed narrow, and stats fall out of the block metadata.
    No JVM aggregation buffers exist anywhere in the build.

Skew (hot terms) is handled *structurally*: the aggregation key includes
``block_id`` (a range of conv_slots), so a term occurring in 30% of 10^12
turns becomes millions of bounded-size block rows spread across all
reducers instead of one giant posting list on one reducer — this is the
"salted repartition" of the north rule with the salt made deterministic
and query-meaningful (blocks double as WAND skip units).  AQE skew-join
splitting stays enabled on top.

Segments: the build is segmented by conv_id hash (segment = append unit,
mirrors Resin pages I10/F5).  Each segment commits independently and
writes a lineage receipt; ``resume_build`` anti-joins receipts to skip
completed segments (checkpoint-resume, north rule).  ``compact`` merges
all segments into one (Resin's ``optimize``, SessionFactory.cs:112-190).
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, BinaryType, LongType,
                               StringType, StructField, StructType)

from resin_spark import ids
from resin_spark.postings import decode_counts, decode_doc_ids
from resin_spark.tokenizer import chars_key_py, tokens_col

DEFAULT_FIELDS = ("text", "role", "tool")

# parquet row-group budget of the docs and postings tables.  Every
# embedded point read (top-k docs fetch, postings term lookup) decodes
# whole row groups, and both tables are sorted on their lookup key
# (doc_id; field, term) so min/max stats pick the covering groups: a
# point read costs the few groups it hits, not the file.  parquet-mr
# sizes a group on its BUFFERED bytes, which below the 1 MB page size
# are the uncompressed encoded values: 256 KB lands near ~2k rows
# (640k-turn benchmark corpus: ~2.3k docs rows, ~1.6k postings rows per
# group).  parquet-mr checks the size only every so many rows (at least
# 100), so a run of very large rows (stopword blocks) can overshoot it.
ROW_GROUP_BYTES = 256 * 1024
# block = conv_slot >> CONV_BLOCK_BITS — 4096 conversations per block
CONV_BLOCK_BITS = 12
BLOCK_SHIFT = ids.TURN_BITS + CONV_BLOCK_BITS

POSTINGS_FIELDS = [
    StructField("field", StringType(), False),
    StructField("term", StringType(), False),
    StructField("block_id", LongType(), False),
    StructField("df_block", LongType(), False),
    StructField("sum_tf", LongType(), False),
    StructField("max_tf", LongType(), False),
    StructField("min_dl", LongType(), False),
    StructField("doc_ids_bin", BinaryType(), False),
    StructField("tfs_bin", BinaryType(), False),
    StructField("dls_bin", BinaryType(), False),
    StructField("chars_key", StringType(), False),
]
POSTINGS_SCHEMA = StructType(POSTINGS_FIELDS)

# Encoder output when terms ride the shuffle dictionary-encoded
# (RESIN_SPARK_TERM_DICT=1): `term` is the dense int64 term_id; the term
# string and chars_key are restored from the term dimension AFTER the
# encode, so neither string rides the big shuffle.
POSTINGS_ID_FIELDS = [
    StructField("field", StringType(), False),
    StructField("term", LongType(), False),
] + POSTINGS_FIELDS[2:-1]
POSTINGS_ID_SCHEMA = StructType(POSTINGS_ID_FIELDS)

# Positional variant (build_index(..., positions=True)): one extra block
# column holding varint position gaps laid out per posting in doc order
# (tf == occurrence count, so runs need no length prefix — see
# postings.decode_positions).  Everything else — doc_ids/tfs/dls layout,
# stats, WAND metadata — is byte-identical to the positionless schema, so
# every non-phrase query path reads positional indexes unchanged.
POSITIONS_FIELD = StructField("positions_bin", BinaryType(), True)
POSTINGS_POS_SCHEMA = StructType(POSTINGS_FIELDS + [POSITIONS_FIELD])
POSTINGS_ID_POS_SCHEMA = StructType(POSTINGS_ID_FIELDS + [POSITIONS_FIELD])


class _arrow_batch_rows:
    """Temporarily set BOTH Arrow input-batch bounds for a build action:
    a high record cap (the merge-encoder streams SMALL occurrence rows
    and wants big batches — fewer carry hand-offs, less per-batch Python
    overhead) plus a byte cap that keeps any KB-cell rows flowing through
    the SAME conf window (the compact decode UDF, or a concurrent query's
    posting-block decode) bounded to ~16 MiB Arrow buffers per batch
    instead of record-cap × cell-size — so the session-global flip can no
    longer balloon a bystander's per-task Python memory."""

    KEYS = {
        "spark.sql.execution.arrow.maxRecordsPerBatch": "131072",
        "spark.sql.execution.arrow.maxBytesPerBatch": str(16 << 20),
    }

    def __init__(self, spark: SparkSession, n: int | None = None):
        self.spark = spark
        self.keys = dict(self.KEYS)
        if n is not None:
            self.keys["spark.sql.execution.arrow.maxRecordsPerBatch"] = str(n)

    def __enter__(self):
        self.old = {k: self.spark.conf.get(k) for k in self.keys}
        for k, v in self.keys.items():
            self.spark.conf.set(k, v)

    def __exit__(self, *exc):
        for k, v in self.old.items():
            self.spark.conf.set(k, v)


# ---------------------------------------------------------------- paths
#
# Versioned artifacts + pointer commit (Iceberg-style snapshot swap for
# compaction).  Fresh builds write the plain dirs (= version 0, no
# pointer file).  ``compact`` writes a complete NEW tree under
# ``<name>__v{N}`` dirs and then COMMITS by creating ``_ptr_{N}.json`` —
# file creation is atomic, and readers resolve the highest-numbered
# pointer, so a query concurrent with compaction sees the old tree or
# the new tree, never a half-renamed directory (the flaw of the previous
# two-rename swap).  The previous version's dirs are retained until the
# NEXT compact GCs them, covering readers already holding file lists.
_VERSIONED = ("docs", "postings", "doclens", "stats")


def _current_pointer(root: str) -> tuple[int, dict]:
    """(version, artifact-dir mapping) from the newest _ptr file."""
    import json as _json
    import os as _os

    local = root[len("file://"):] if root.startswith("file://") else root
    if "://" not in local:
        import glob as _glob

        ptrs = sorted(_glob.glob(_os.path.join(local, "_ptr_*.json")))
        if not ptrs:
            return 0, {}
        with open(ptrs[-1]) as f:
            doc = _json.load(f)
        return doc["version"], doc["dirs"]
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    fs, jvm = _hadoop_fs(spark)
    Path = jvm.org.apache.hadoop.fs.Path
    if not fs.exists(Path(root)):
        return 0, {}
    best = None
    for st in fs.listStatus(Path(root)):
        nm = st.getPath().getName()
        if nm.startswith("_ptr_") and nm.endswith(".json"):
            if best is None or nm > best:
                best = nm
    if best is None:
        return 0, {}
    stream = fs.open(Path(f"{root}/{best}"))
    try:
        data = bytes(jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
    finally:
        stream.close()
    doc = _json.loads(data.decode())
    return doc["version"], doc["dirs"]


def _pointer_versions(root: str) -> list[int]:
    """Sorted pointer-file versions present at ``root`` (excl. the
    implicit version 0 = plain dirs)."""
    import os as _os
    import re as _re

    local = root[len("file://"):] if root.startswith("file://") else root
    if "://" not in local:
        import glob as _glob

        return sorted(
            int(_re.fullmatch(r"_ptr_(\d+)\.json", _os.path.basename(p)).group(1))
            for p in _glob.glob(_os.path.join(local, "_ptr_*.json"))
        )
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    fs, jvm = _hadoop_fs(spark)
    Path = jvm.org.apache.hadoop.fs.Path
    if not fs.exists(Path(root)):
        return []
    out = []
    for st in fs.listStatus(Path(root)):
        m = _re.fullmatch(r"_ptr_(\d+)\.json", st.getPath().getName())
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


def list_snapshots(root: str) -> list[int]:
    """Readable snapshot versions, oldest first.  The newest is what
    un-pinned readers resolve; older entries are time-travel targets
    (the Iceberg-snapshot analog of the pointer-file commit).  GC policy
    keeps {previous, current}, so after each compact exactly one older
    snapshot stays readable — the concurrent-reader / rollback window."""
    vers = _pointer_versions(root)
    if not vers:
        return [0]
    # version 0 (plain dirs) is readable until the second compact GCs it
    if 0 not in vers and len(vers) == 1:
        vers = [0] + vers
    return vers


def _pointer_at(root: str, version: int) -> dict:
    """Artifact-dir mapping of a SPECIFIC snapshot version (0 = plain
    dirs).  Raises FileNotFoundError when that pointer has been GC'd."""
    import json as _json

    if version == 0:
        avail = list_snapshots(root)
        if 0 in avail:
            return {}
        raise FileNotFoundError(
            f"snapshot 0 (plain dirs) GC'd at {root}; available: {avail}")
    name = f"{root}/_ptr_{version:08d}.json"
    local = name[len("file://"):] if name.startswith("file://") else name
    if "://" not in local:
        import os as _os

        if not _os.path.exists(local):
            raise FileNotFoundError(
                f"snapshot {version} not readable at {root} (GC keeps only "
                f"{{previous, current}}); available: {list_snapshots(root)}")
        with open(local) as f:
            return _json.load(f)["dirs"]
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    fs, jvm = _hadoop_fs(spark)
    Path = jvm.org.apache.hadoop.fs.Path
    if not fs.exists(Path(name)):
        raise FileNotFoundError(
            f"snapshot {version} not readable at {root}; "
            f"available: {list_snapshots(root)}")
    stream = fs.open(Path(name))
    try:
        data = bytes(jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
    finally:
        stream.close()
    return _json.loads(data.decode())["dirs"]


def _write_pointer(spark, root: str, version: int, dirs: dict) -> None:
    """Commit a new artifact mapping: create _ptr_{version}.json (atomic
    create-new; never overwrites an existing pointer)."""
    import json as _json

    payload = _json.dumps({"version": version, "dirs": dirs}).encode()
    name = f"{root}/_ptr_{version:08d}.json"
    local = name[len("file://"):] if name.startswith("file://") else name
    if "://" not in local:
        import os as _os
        import uuid as _uuid

        tmp = f"{local}.tmp-{_uuid.uuid4().hex}"
        with open(tmp, "wb") as f:
            f.write(payload)
        _os.rename(tmp, local)  # atomic create of the final name
        return
    fs, jvm = _hadoop_fs(spark)
    Path = jvm.org.apache.hadoop.fs.Path
    out = fs.create(Path(name), False)  # fail, don't overwrite
    try:
        out.write(bytearray(payload))
    finally:
        out.close()


def _artifact(root: str, name: str, snapshot: int | None = None) -> str:
    """Artifact dir for ``name`` — at the CURRENT pointer, or pinned to a
    specific ``snapshot`` version (time travel)."""
    if snapshot is not None:
        dirs = _pointer_at(root, snapshot)
    else:
        _, dirs = _current_pointer(root)
    return f"{root}/{dirs.get(name, name)}"


def p_docs(root: str, snapshot: int | None = None) -> str:
    return _artifact(root, "docs", snapshot)


def p_conv_dim(root: str) -> str:
    return f"{root}/conv_dim"


def p_postings(root: str, snapshot: int | None = None) -> str:
    return _artifact(root, "postings", snapshot)


def p_doclens(root: str, snapshot: int | None = None) -> str:
    return _artifact(root, "doclens", snapshot)


def p_stats(root: str, snapshot: int | None = None) -> str:
    return _artifact(root, "stats", snapshot)


def p_lineage(root: str) -> str:
    return f"{root}/lineage"


def p_metrics(root: str) -> str:
    return f"{root}/metrics"


# ---------------------------------------------------------------- stages
def tokenized(docs: DataFrame, fields: tuple[str, ...],
              positions: bool = False) -> DataFrame:
    """(doc_id, field, term, dl[, pos]) — one row per token occurrence,
    carrying the per-(doc, field) token count ``dl`` computed NARROW
    (array size, no shuffle).  Tokenization is the JVM regex path
    (tokens_col) so the whole stage is codegen'd; the pandas-UDF twin is
    used (and cross-checked) in tests.

    Carrying dl on the occurrence row is what lets the whole index build
    run in ONE shuffle: postings_blocks groups occurrences straight to
    (field, term, block) reducers and derives tf/dl there — no separate
    per-(doc, term) counting shuffle, no doclens join.

    positions=True adds ``pos``: the token's 0-based index in the field's
    token stream (posexplode over the SAME filtered token array, so the
    build's positions agree with tokenize_py list indices exactly).  The
    extra int costs ~10-15% shuffle bytes — opt-in, only phrase queries
    read it."""
    parts = []
    for f in fields:
        toks = docs.select("doc_id", tokens_col(f).alias("toks"))
        if positions:
            parts.append(
                toks.select(
                    "doc_id",
                    F.lit(f).alias("field"),
                    F.size("toks").alias("dl"),
                    F.posexplode("toks").alias("pos", "term"),
                )
            )
            continue
        parts.append(
            toks.select(
                "doc_id",
                F.lit(f).alias("field"),
                F.size("toks").alias("dl"),
                F.explode("toks").alias("term"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        # one column-pruned pass per field (each scan reads only its own
        # string column) — cheaper than building struct arrays per row
        out = out.unionByName(p)
    return out


def doc_lengths(docs: DataFrame, fields: tuple[str, ...]) -> DataFrame:
    """(field, doc_id, dl) — per-field token counts, computed narrow from
    the token arrays (zero shuffles; mirrors the tf-derived dl exactly:
    only rows with dl > 0 appear, matching the old groupBy-over-tf)."""
    parts = [
        docs.select(
            F.lit(f).alias("field"),
            "doc_id",
            F.size(tokens_col(f)).cast("long").alias("dl"),
        )
        for f in fields
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.filter(F.col("dl") > 0)


def _encode_sorted_arrays(fa, ta, ba, D, T, L, P=None,
                          with_chars_key: bool = True) -> pd.DataFrame:
    """Encode a run of occurrence rows sorted by (field, term, block_id,
    doc_id) into one output row per (field, term, block) group.

    Fully flat-vectorized: group boundaries come from key change-points,
    duplicate doc_ids merge via reduceat (tf = Σ per-occurrence tf;
    T=None means every occurrence carries tf=1 — the build path — so tf
    is just the duplicate run length and the tf column never has to ride
    the shuffle; compaction feeds pre-counted tf), block stats and the
    delta+varint codec all run as single numpy passes with group offsets.
    The input being pre-sorted (shuffle sort) means no per-group argsort
    at all."""
    from resin_spark.postings import varint_encode_segmented

    n = len(D)
    # group change-points over the (already grouped-contiguous) keys
    gs = np.empty(n, dtype=bool)
    gs[0] = True
    gs[1:] = (fa[1:] != fa[:-1]) | (ta[1:] != ta[:-1]) | (ba[1:] != ba[:-1])
    off = np.append(np.flatnonzero(gs), n).astype(np.int64)
    n_groups = len(off) - 1
    # first-occurrence mask for doc_id dedup (group starts open a run)
    isf = np.empty(n, dtype=bool)
    isf[0] = True
    isf[1:] = D[1:] != D[:-1]
    isf[off[:-1]] = True
    starts = np.flatnonzero(isf)
    DU = D[starts]
    if T is None:  # unit tf: term frequency == duplicate run length
        TU = np.diff(np.append(starts, n)).astype(np.int64)
    else:
        TU = np.add.reduceat(T, starts)
    LU = L[starts]
    u_off = np.empty(n_groups + 1, np.int64)
    u_off[:-1] = np.searchsorted(starts, off[:-1])
    u_off[-1] = len(starts)
    # per-group stats; sum_tf summed per field gives total_tokens, so the
    # stats table needs no separate tokenize pass
    dfb = np.diff(u_off)
    stf = np.add.reduceat(TU, u_off[:-1])
    mtf = np.maximum.reduceat(TU, u_off[:-1])
    mdl = np.minimum.reduceat(LU, u_off[:-1])
    # delta-encode doc_ids with the absolute value at each group start
    deltas = np.empty_like(DU)
    deltas[0] = DU[0]
    np.subtract(DU[1:], DU[:-1], out=deltas[1:])
    deltas[u_off[:-1]] = DU[u_off[:-1]]
    g_terms = ta[off[:-1]]
    out = {
        "field": fa[off[:-1]],
        "term": g_terms,
        "block_id": ba[off[:-1]].astype(np.int64),
        "df_block": dfb,
        "sum_tf": stf,
        "max_tf": mtf,
        "min_dl": mdl,
        "doc_ids_bin": varint_encode_segmented(
            deltas.astype(np.uint64), u_off),
        "tfs_bin": varint_encode_segmented(TU.astype(np.uint64), u_off),
        "dls_bin": varint_encode_segmented(LU.astype(np.uint64), u_off),
    }
    if P is not None:
        # positional layout (postings.decode_positions): per doc-run the
        # absolute first position, then deltas — the sort key ends in
        # pos, so occurrences arrive position-sorted and gaps are >= 0.
        # Only the unit-tf (occurrence-row) path carries positions: a
        # pre-merged tf row has no per-occurrence granularity to encode.
        assert T is None, "positions require unit-tf occurrence rows"
        pg = np.empty_like(P)
        pg[0] = P[0]
        np.subtract(P[1:], P[:-1], out=pg[1:])
        pg[starts] = P[starts]
        out["positions_bin"] = varint_encode_segmented(
            pg.astype(np.uint64), off)
    if with_chars_key:
        # ONE definition of the char-bag key, shared with the query
        # side (executor matches on chars_key_py of the query token)
        out["chars_key"] = [chars_key_py(t) for t in g_terms]
    return pd.DataFrame(out)


def _encode_sorted_pdf(pdf: pd.DataFrame, unit_tf: bool = False,
                       with_chars_key: bool = True,
                       positions: bool = False) -> pd.DataFrame:
    D = pdf["doc_id"].to_numpy(dtype=np.int64)
    return _encode_sorted_arrays(
        pdf["field"].to_numpy(),
        pdf["term"].to_numpy(),
        np.right_shift(D, BLOCK_SHIFT),  # derived, never shuffled
        D,
        None if unit_tf else pdf["tf"].to_numpy(dtype=np.int64),
        pdf["dl"].to_numpy(dtype=np.int64),
        P=pdf["pos"].to_numpy(dtype=np.int64) if positions else None,
        with_chars_key=with_chars_key,
    )


def _merge_encode_iter(unit_tf: bool = False, with_chars_key: bool = True,
                       positions: bool = False):
    """mapInPandas worker factory over a partition sorted by (field,
    term, doc_id) — block_id is a monotone function of doc_id, so the
    sort order equals (field, term, block_id, doc_id) and the block key
    is DERIVED here instead of riding the shuffle.  Streams Arrow
    batches, holds back the trailing (possibly batch-spanning) group as
    carry, emits encoded blocks per batch.  Peak memory per task = one
    Arrow batch + one GROUP (a group is bounded by block capacity) —
    never the partition, never an aggregation hash map.  This is the
    spill-safe scale path: all heavy reordering happened in the shuffle
    sorter (disk-backed spilling).

    The carry is a LIST of chunks concatenated only once at flush, and
    every scan touches only the current batch — a group spanning k
    batches costs O(total rows), not O(k * group)."""

    def run(batches):
        carry_chunks: list[pd.DataFrame] = []
        carry_key: tuple | None = None

        def flush():
            nonlocal carry_chunks, carry_key
            out = _encode_sorted_pdf(
                carry_chunks[0] if len(carry_chunks) == 1
                else pd.concat(carry_chunks, ignore_index=True),
                unit_tf=unit_tf, with_chars_key=with_chars_key,
                positions=positions,
            )
            carry_chunks, carry_key = [], None
            return out

        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            fa = pdf["field"].to_numpy()
            ta = pdf["term"].to_numpy()
            ba = np.right_shift(pdf["doc_id"].to_numpy(np.int64), BLOCK_SHIFT)
            first_key = (fa[0], ta[0], ba[0])
            last_key = (fa[-1], ta[-1], ba[-1])
            if carry_key is not None and carry_key != first_key:
                yield flush()
            if first_key == last_key:
                # whole batch is one group: extend the carry, no emit
                carry_chunks.append(pdf)
                carry_key = first_key
                continue
            # end of the batch's first group / start of its trailing group
            first_mask = (fa == fa[0]) & (ta == ta[0]) & (ba == ba[0])
            head_end = int(np.flatnonzero(~first_mask)[0])
            trailing = (fa == fa[-1]) & (ta == ta[-1]) & (ba == ba[-1])
            cut = int(np.flatnonzero(~trailing)[-1]) + 1
            if carry_key is not None:  # == first_key: group completes here
                carry_chunks.append(pdf.iloc[:head_end])
                yield flush()
                body = pdf.iloc[head_end:cut]
            else:
                body = pdf.iloc[:cut]
            if len(body):
                yield _encode_sorted_pdf(body, unit_tf=unit_tf,
                                         with_chars_key=with_chars_key,
                                         positions=positions)
            carry_chunks = [pdf.iloc[cut:]]
            carry_key = last_key
        if carry_chunks:
            yield flush()

    return run

def _decode_blocks(rows: pd.DataFrame) -> pd.DataFrame:
    out_docs, out_tfs, out_dls = [], [], []
    for db, tb, lb in zip(rows["doc_ids_bin"], rows["tfs_bin"], rows["dls_bin"]):
        out_docs.append(decode_doc_ids(bytes(db)).tolist())
        out_tfs.append(decode_counts(bytes(tb)).tolist())
        out_dls.append(decode_counts(bytes(lb)).tolist())
    return pd.DataFrame(
        {"doc_ids": out_docs, "tfs": out_tfs, "dls": out_dls}
    )


DECODE_SCHEMA = StructType(
    [
        StructField("doc_ids", ArrayType(LongType()), False),
        StructField("tfs", ArrayType(LongType()), False),
        StructField("dls", ArrayType(LongType()), False),
    ]
)

decode_blocks_udf = F.pandas_udf(
    lambda d, t, l: _decode_blocks(pd.DataFrame({"doc_ids_bin": d, "tfs_bin": t, "dls_bin": l})),
    returnType=DECODE_SCHEMA,
)


def postings_blocks(occurrences: DataFrame,
                    out_partitions: int | None = None,
                    unit_tf: bool = False,
                    positions: bool = False) -> DataFrame:
    """(field, term, block_id) -> encoded posting block, in ONE shuffle.

    occurrences: (field, doc_id, term, dl[, tf]) — the build path feeds
    raw token occurrences (``unit_tf=True``: every occurrence counts 1,
    so NO tf column rides the shuffle and tf falls out of the encoder's
    duplicate merge); compaction feeds pre-merged postings with real tf
    counts.  The block key is a shuffle/sort EXPRESSION only
    (shiftright(doc_id)), derived again in the encoder — together the
    two dropped int64 columns cut shuffle bytes ~20% at 10M turns.

    This is the north rule's repartition-and-sort-within-partitions merge:
    occurrences hash-shuffle on the FULL (field, term, block_id) key (hot
    terms fan out across reducers — structural skew handling), the shuffle
    sorter orders each partition by (key, doc_id) with disk-backed spilling
    (UnsafeExternalSorter), and a streaming mapInPandas encoder emits one
    block row per group with one Arrow batch in memory at a time.  No JVM
    aggregation buffers exist anywhere, so there is no unspillable
    collect_list hash map to blow up on huge segments — peak task memory
    is bounded by the Arrow batch size regardless of input size.  Output
    rows come out (field, term)-sorted per file; written in ROW_GROUP_BYTES
    groups, Parquet min/max stats then prune query-time term lookups to
    the groups that hold the term (given ``term == t`` filters: pyarrow
    does not prune on ``isin``)."""
    spark = occurrences.sparkSession
    if positions and not unit_tf:
        raise ValueError("positional postings need unit-tf occurrence rows")
    n_parts = out_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )
    cols = ["field", "term", "doc_id", "dl"] + ([] if unit_tf else ["tf"])
    sort_cols = ["field", "term", "doc_id"]
    if positions:
        # pos joins the shuffle payload AND the sort key tail: the gap
        # codec needs each doc run position-sorted (gaps >= 0)
        cols.append("pos")
        sort_cols.append("pos")
    block_expr = F.shiftright(F.col("doc_id"), BLOCK_SHIFT)
    parted = (
        occurrences.select(*cols)
        .repartition(n_parts, F.col("field"), F.col("term"), block_expr)
        # block_id is monotone in doc_id, so this order IS
        # (field, term, block_id, doc_id)
        .sortWithinPartitions(*sort_cols)
    )
    return parted.mapInPandas(
        _merge_encode_iter(unit_tf, positions=positions),
        schema=POSTINGS_POS_SCHEMA if positions else POSTINGS_SCHEMA)


def build_term_dim(occurrences: DataFrame) -> DataFrame:
    """Order-preserving dense term dictionary: (field, term) -> term_id
    with term_id = rank under (field, term) lexicographic order, so
    sorting by term_id IS sorting by (field, term) — posting files stay
    term-sorted (parquet min/max pruning intact) when the id is the
    shuffle/sort key.  Same distributed sort+zipWithIndex shape as
    conv_dim (ids.build_conv_dim); vocab is tiny relative to occurrences.
    chars_key is computed here ONCE PER VOCAB ROW (JVM expression)
    instead of once per posting block group."""
    from resin_spark.tokenizer import chars_key_col

    spark = occurrences.sparkSession
    vocab = occurrences.select("field", "term").distinct().sort("field", "term")
    rdd = vocab.rdd.map(lambda r: (r[0], r[1])).zipWithIndex().map(
        lambda x: (x[0][0], x[0][1], x[1])
    )
    dim = spark.createDataFrame(
        rdd,
        StructType([
            StructField("field", StringType(), False),
            StructField("term", StringType(), False),
            StructField("term_id", LongType(), False),
        ]),
    )
    return dim.withColumn("chars_key", chars_key_col("term"))


def postings_blocks_dicted(occurrences: DataFrame,
                           out_partitions: int | None = None,
                           unit_tf: bool = False,
                           positions: bool = False) -> DataFrame:
    """postings_blocks with the term column dictionary-encoded to int64
    for the big shuffle (RESIN_SPARK_TERM_DICT=1; the 1->4 scaling
    experiment of BENCH.md).  Identical output table.

    Motivation: the occurrence shuffle carries one term STRING per token
    (~10 bytes + offsets through the shuffle sorter, Arrow transfer, and
    the encoder's numpy object-array change-point compares — per-element
    Python).  With a dense id the sorter compares int64s, the Arrow batch
    is fixed-width, and the encoder's group detection is pure C.  Costs:
    one vocab-sized distinct+sort+zipWithIndex, a map-side join occ->id,
    and a blocks-sized join back to restore (term, chars_key).

    Scale note: the occ->id join is broadcast here (vocab of the
    synthetic corpus is small); at 100 TB vocab (~10^8 rows) you would
    bucket both sides on (field, term) instead — the join stays map-side
    either way.  The restore join is on blocks (orders of magnitude
    smaller than occurrences)."""
    spark = occurrences.sparkSession
    if positions and not unit_tf:
        raise ValueError("positional postings need unit-tf occurrence rows")
    n_parts = out_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )
    vocab = build_term_dim(occurrences).persist()
    cols = ["doc_id", "dl"] + ([] if unit_tf else ["tf"])
    sort_cols = ["field", "term", "doc_id"]
    if positions:
        cols.append("pos")
        sort_cols.append("pos")
    occ_id = (
        occurrences.join(F.broadcast(vocab.select("field", "term", "term_id")),
                         ["field", "term"])
        .select("field", F.col("term_id").alias("term"), *cols)
    )
    block_expr = F.shiftright(F.col("doc_id"), BLOCK_SHIFT)
    parted = (
        occ_id.repartition(n_parts, F.col("field"), F.col("term"), block_expr)
        # term_id rank order == (field, term) order, so this sort keeps
        # the output (field, term)-sorted per file exactly like the
        # string path
        .sortWithinPartitions(*sort_cols)
    )
    enc = parted.mapInPandas(
        _merge_encode_iter(unit_tf, with_chars_key=False, positions=positions),
        schema=POSTINGS_ID_POS_SCHEMA if positions else POSTINGS_ID_SCHEMA,
    )
    out_fields = (POSTINGS_POS_SCHEMA if positions else POSTINGS_SCHEMA).fields
    restored = (
        enc.withColumnRenamed("term", "term_id")
        .join(F.broadcast(vocab), ["field", "term_id"])
        .select(*[f.name for f in out_fields])
    )
    return restored


def decoded_postings(postings: DataFrame) -> DataFrame:
    """Explode encoded blocks back to (field, term, doc_id, tf, dl, segment).
    Only call on a *matched* (term-filtered) subset at query time."""
    dec = postings.withColumn(
        "dec", decode_blocks_udf("doc_ids_bin", "tfs_bin", "dls_bin")
    )
    z = dec.select(
        "field",
        "term",
        "segment",
        F.explode(
            F.arrays_zip(
                F.col("dec.doc_ids").alias("doc_id"),
                F.col("dec.tfs").alias("tf"),
                F.col("dec.dls").alias("dl"),
            )
        ).alias("p"),
    )
    return z.select(
        "field",
        "term",
        "segment",
        F.col("p.doc_id").alias("doc_id"),
        F.col("p.tf").alias("tf"),
        F.col("p.dl").alias("dl"),
    )


def _decode_occ_blocks(rows: pd.DataFrame) -> pd.DataFrame:
    """Positional block decode: one output row per block, holding flat
    per-OCCURRENCE arrays (doc repeated tf times, its dl alongside, one
    position per occurrence) — exploding the zip reproduces the exact
    occurrence rows the encoder consumed."""
    from resin_spark.postings import (decode_counts, decode_doc_ids,
                                      decode_positions)

    out_docs, out_dls, out_pos = [], [], []
    for db, tb, lb, pb in zip(rows["doc_ids_bin"], rows["tfs_bin"],
                              rows["dls_bin"], rows["positions_bin"]):
        tfs = decode_counts(bytes(tb))
        docs = decode_doc_ids(bytes(db))
        dls = decode_counts(bytes(lb))
        out_docs.append(np.repeat(docs, tfs).tolist())
        out_dls.append(np.repeat(dls, tfs).tolist())
        out_pos.append(decode_positions(bytes(pb), tfs).tolist())
    return pd.DataFrame({"doc_id": out_docs, "dl": out_dls, "pos": out_pos})


DECODE_OCC_SCHEMA = StructType(
    [
        StructField("doc_id", ArrayType(LongType()), False),
        StructField("dl", ArrayType(LongType()), False),
        StructField("pos", ArrayType(LongType()), False),
    ]
)

decode_occ_udf = F.pandas_udf(
    lambda d, t, l, p: _decode_occ_blocks(
        pd.DataFrame({"doc_ids_bin": d, "tfs_bin": t,
                      "dls_bin": l, "positions_bin": p})),
    returnType=DECODE_OCC_SCHEMA,
)


def decoded_occurrences(postings: DataFrame) -> DataFrame:
    """Explode POSITIONAL blocks back to per-occurrence rows (field,
    term, doc_id, dl, pos) — the exact shape `tokenized(positions=True)`
    emits, so re-encoding with postings_blocks(unit_tf=True,
    positions=True) round-trips (tf falls back out as the duplicate run
    length).  Powers positional compaction and the distributed phrase
    verify; only ever called on a term-filtered subset at query time."""
    dec = postings.withColumn(
        "dec", decode_occ_udf("doc_ids_bin", "tfs_bin", "dls_bin",
                              "positions_bin")
    )
    z = dec.select(
        "field",
        "term",
        F.explode(
            F.arrays_zip(
                F.col("dec.doc_id").alias("doc_id"),
                F.col("dec.dl").alias("dl"),
                F.col("dec.pos").alias("pos"),
            )
        ).alias("o"),
    )
    return z.select(
        "field",
        "term",
        F.col("o.doc_id").alias("doc_id"),
        F.col("o.dl").alias("dl"),
        F.col("o.pos").alias("pos"),
    )


def extend_conv_dim(spark: SparkSession, batch: DataFrame, root: str) -> DataFrame:
    """Append-only conv_dim update: conv_ids not yet in the dimension get
    slots ABOVE the current maximum (existing slots are immutable — doc
    IDs already packed from them must stay valid).  Returns the full
    (old + new) dimension.  Used by resumed builds and streaming appends."""
    new_convs = batch.select("conv_id").distinct()
    # existence is probed explicitly: ONLY a missing dimension means
    # "start empty".  A transient read failure (FS hiccup, corrupt
    # footer) must raise, not silently restart slot assignment at 0 —
    # that would hand new conv_ids doc_id ranges that collide with
    # already-indexed ones (silent index corruption on appends/resume).
    if _exists(spark, p_conv_dim(root)):
        old = spark.read.parquet(p_conv_dim(root))
    else:
        old = spark.createDataFrame([], schema=ids.CONV_DIM_SCHEMA)
    base_row = old.agg(F.max("conv_slot").alias("m")).collect()[0]
    base = (base_row["m"] + 1) if base_row["m"] is not None else 0
    fresh = new_convs.join(old.select("conv_id"), "conv_id", "left_anti").sort(
        "conv_id"
    )
    fresh_dim = spark.createDataFrame(
        fresh.rdd.map(lambda r: r[0]).zipWithIndex().map(
            lambda t: (t[0], t[1] + base)
        ),
        schema=ids.CONV_DIM_SCHEMA,
    ).persist()  # isEmpty + write must see ONE slot assignment, computed once
    try:
        if fresh_dim.isEmpty():
            return old
        fresh_dim.write.mode("append").parquet(p_conv_dim(root))
    finally:
        fresh_dim.unpersist()
    return spark.read.parquet(p_conv_dim(root))


# ---------------------------------------------------------------- lineage
LINEAGE_SCHEMA = "segment int, step string, status string, n_rows long, wall_sec double"
METRICS_SCHEMA = "segment int, phase string, metric string, value double"


def _append_lineage(spark: SparkSession, root: str, segment: int, step: str,
                    n_rows: int, wall_sec: float) -> None:
    """Lineage receipts are a handful of driver-known values — write them
    with pyarrow directly instead of paying a Spark job per receipt (at
    cluster scale these land on the same DFS path via the driver)."""
    _driver_parquet_append(
        p_lineage(root),
        {"segment": [segment], "step": [step], "status": ["complete"],
         "n_rows": [n_rows], "wall_sec": [float(wall_sec)]},
        _LINEAGE_ARROW,
        LINEAGE_SCHEMA,
    )


def _append_metrics(spark: SparkSession, root: str, rows: list[tuple]) -> None:
    _driver_parquet_append(
        p_metrics(root),
        {
            "segment": [r[0] for r in rows],
            "phase": [r[1] for r in rows],
            "metric": [r[2] for r in rows],
            "value": [float(r[3]) for r in rows],
        },
        _METRICS_ARROW,
        METRICS_SCHEMA,
    )


def _driver_parquet_append(dir_path: str, columns: dict, schema, ddl: str) -> None:
    """Receipt write.  Local paths take the fast pyarrow path (no Spark
    job); non-local URIs (hdfs://, s3a://, ...) go through a one-row
    Spark write so the receipt lands on the SAME filesystem the resume
    anti-join reads — a driver-local receipt on a cluster would make
    completed_segments() blind.  Both branches write the SAME explicit
    schema (``ddl`` mirrors the pyarrow ``schema``): letting
    createDataFrame infer types would write int64 where the arrow path
    writes int32, and a root fed by both paths would then fail the
    lineage read with a parquet schema-merge error."""
    import os
    import re
    import uuid

    if re.match(r"^[a-z0-9+.-]+://", dir_path) and not dir_path.startswith("file://"):
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        rows = list(zip(*columns.values()))
        spark.createDataFrame(rows, schema=ddl).coalesce(
            1
        ).write.mode("append").parquet(dir_path)
        return
    import pyarrow as pa
    import pyarrow.parquet as pq

    local = dir_path[len("file://"):] if dir_path.startswith("file://") else dir_path
    os.makedirs(local, exist_ok=True)
    table = pa.table(columns, schema=schema)
    pq.write_table(table, f"{local}/part-{uuid.uuid4().hex}.parquet")


def _arrow_schemas():
    import pyarrow as pa

    lineage = pa.schema(
        [pa.field("segment", pa.int32(), False),
         pa.field("step", pa.string(), False),
         pa.field("status", pa.string(), False),
         pa.field("n_rows", pa.int64(), False),
         pa.field("wall_sec", pa.float64(), False)]
    )
    metrics = pa.schema(
        [pa.field("segment", pa.int32(), False),
         pa.field("phase", pa.string(), False),
         pa.field("metric", pa.string(), False),
         pa.field("value", pa.float64(), False)]
    )
    return lineage, metrics


_LINEAGE_ARROW, _METRICS_ARROW = _arrow_schemas()


def completed_segments(spark: SparkSession, root: str) -> set[int]:
    try:
        lin = spark.read.parquet(p_lineage(root))
    except Exception:
        return set()
    rows = (
        lin.filter((F.col("step") == "segment") & (F.col("status") == "complete"))
        .select("segment")
        .distinct()
        .collect()
    )
    return {r.segment for r in rows}


# ---------------------------------------------------------------- build
def build_index(
    spark: SparkSession,
    transcripts: DataFrame,
    root: str,
    fields: tuple[str, ...] = DEFAULT_FIELDS,
    n_segments: int = 1,
    overwrite: bool = True,
    resume: bool = False,
    out_partitions: int | None = None,
    cache_input: bool = False,
    write_doclens: bool = False,
    positions: bool = False,
) -> dict:
    """Full index build.  Returns build stats (turns indexed, wall time).

    positions=True writes the positional postings variant (token offsets
    per occurrence, varint gaps): phrase queries then verify adjacency
    from the index alone — no docs-table access — at ~10-15% extra
    shuffle/storage.  All other query paths are unaffected either way.

    One conv_dim for the whole corpus (doc_ids independent of
    segmentation), then per segment: docs + doclens + stats + postings,
    committed independently with a lineage receipt.
    """
    from resin_spark.session import ensure_package_shipped

    ensure_package_shipped(spark)
    t0 = time.monotonic()
    if overwrite and not resume:
        _rm(spark, root)

    # The input is scanned once per derived table with column pruning
    # (conv_dim reads ONLY conv_id; docs reads the stored columns) — at
    # 100 TB the raw input never fits a cache, and columnar re-scans are
    # cheaper than materializing the whole corpus.  cache_input=True is
    # for non-columnar/expensive sources.
    if cache_input:
        transcripts = transcripts.persist()
    if resume and _exists(spark, p_conv_dim(root)):
        # a resume must NOT rebuild the dimension: segments already
        # committed hold doc_ids packed from the EXISTING slots, and a
        # rebuild would re-rank conv_ids that arrived since (one
        # conversation in two doc_id spaces = silent corruption).
        # Extend append-only instead — same rule as streaming appends.
        conv_dim = extend_conv_dim(spark, transcripts, root).persist()
    else:
        # persist the dimension rather than round-tripping through
        # parquet: the zipWithIndex plan would otherwise recompute
        # (2 jobs) on every downstream use; the parquet copy is still
        # written for resume / streaming appends / external readers
        conv_dim = ids.build_conv_dim(transcripts).persist()
        conv_dim.write.mode("overwrite").parquet(p_conv_dim(root))
    n_convs = conv_dim.count()

    done = completed_segments(spark, root) if resume else set()
    seg_col = F.pmod(F.xxhash64("conv_id"), F.lit(n_segments)).cast("int")
    total_turns = 0
    for seg in range(n_segments):
        if seg in done:
            continue
        seg_df = (
            transcripts.withColumn("segment", seg_col)
            .filter(F.col("segment") == seg)
            if n_segments > 1
            else transcripts.withColumn("segment", F.lit(0))
        )
        n = _build_segment(spark, seg_df, conv_dim, root, fields, seg,
                           n_convs=n_convs, write_doclens=write_doclens,
                           out_partitions=out_partitions,
                           positions=positions)
        total_turns += n
    if cache_input:
        transcripts.unpersist()
    conv_dim.unpersist()
    wall = time.monotonic() - t0
    return {"turns": total_turns, "wall_sec": wall, "segments": n_segments}


def _build_segment(
    spark: SparkSession,
    seg_df: DataFrame,
    conv_dim: DataFrame,
    root: str,
    fields: tuple[str, ...],
    seg: int,
    n_convs: int | None = None,
    write_doclens: bool = False,
    out_partitions: int | None = None,
    positions: bool = False,
) -> int:
    t0 = time.monotonic()
    docs = ids.with_doc_id(seg_df, conv_dim)
    # docs sorted by doc_id => parquet min/max stats make top-k fetch a
    # row-group-pruned point lookup.  Range partitioning is ARITHMETIC
    # (conv_slot is dense 0..n_convs-1, so bucket = slot*P/n_convs gives
    # contiguous equal ranges) — no repartitionByRange sampling job.
    n_parts = max(2, spark.sparkContext.defaultParallelism)
    if n_convs:
        # 4x buckets per partition so hash placement stays balanced while
        # each file still holds a few contiguous conv ranges
        n_buckets = n_parts * 4
        bucket = F.floor(
            F.col("conv_slot") * F.lit(n_buckets) / F.lit(max(n_convs, 1))
        ).cast("int")
        docs = docs.repartition(n_parts, bucket)
    else:
        docs = docs.repartitionByRange(n_parts, "doc_id")
    (
        # drop the data-side segment column too: the partition directory
        # (segment=<seg>) already carries it, and a duplicate data column
        # shadows the partition column on read
        docs.drop("conv_slot", "segment")
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite")
        # bounded row groups: the top-k point fetch decodes whole row
        # groups to extract single rows, so a 128 MB default group makes
        # a 10-doc fetch decompress ~2M text rows.  ROW_GROUP_BYTES
        # bounds per-hit decode at any corpus size — the 100 TB fetch
        # path — and enables the targeted row-group reader
        # (executor._docs_rg_index).
        .option("parquet.block.size", str(ROW_GROUP_BYTES))
        .parquet(f"{p_docs(root)}/segment={seg}")
    )
    docs = spark.read.parquet(f"{p_docs(root)}/segment={seg}")
    n_docs = docs.count()

    # optional doclens artifact: a narrow tokenize pass over the docs
    # table.  The query path never reads it (dl rides inside the posting
    # blocks), so it is off by default — enabling it costs one extra full
    # tokenize of the corpus.
    if write_doclens:
        dl = doc_lengths(docs, fields)
        dl.write.mode("overwrite").parquet(f"{p_doclens(root)}/segment={seg}")

    # postings: tokenize -> ONE shuffle to (field, term, block) reducers;
    # tf/dl/stats derive inside the streaming merge-encoder (unit_tf:
    # tf = duplicate run length, no tf column in the shuffle)
    occ = tokenized(docs, fields, positions=positions)
    if os.environ.get("RESIN_SPARK_TERM_DICT") == "1":
        blocks = postings_blocks_dicted(
            occ, out_partitions=out_partitions, unit_tf=True,
            positions=positions)
    else:
        blocks = postings_blocks(occ, out_partitions=out_partitions,
                                 unit_tf=True, positions=positions)
    # (field, term)-sorted files in ROW_GROUP_BYTES groups: a term
    # lookup reads the few groups whose min/max stats cover the term
    with _arrow_batch_rows(spark):
        (blocks.write.mode("overwrite").option("compression", "zstd")
         .option("parquet.block.size", str(ROW_GROUP_BYTES))
         .parquet(f"{p_postings(root)}/segment={seg}"))

    # stats from the block METADATA (column-pruned read of the tiny
    # sum_tf/df_block columns): Σ sum_tf per field == Σ dl == total
    # tokens — no separate tokenize pass.  Every REQUESTED field gets a
    # row (zeros when the segment held no tokens for it): n_docs must
    # aggregate over ALL segments per field, or idf/avgdl would be
    # computed against an undercounted corpus in multi-segment builds.
    meta = spark.read.parquet(f"{p_postings(root)}/segment={seg}")
    fields_df = spark.createDataFrame([(f,) for f in fields], "field string")
    stats = (
        fields_df.join(
            meta.groupBy("field").agg(
                F.sum("sum_tf").alias("total_tokens"),
                F.sum("df_block").alias("n_postings"),
            ),
            "field",
            "left",
        )
        .fillna(0, subset=["total_tokens", "n_postings"])
        .withColumn("n_docs", F.lit(n_docs))
    )
    stats.coalesce(1).write.mode("overwrite").parquet(
        f"{p_stats(root)}/segment={seg}"
    )

    wall = time.monotonic() - t0
    _append_lineage(spark, root, seg, "segment", n_docs, wall)
    _append_metrics(
        spark,
        root,
        [
            (seg, "build", "n_docs", float(n_docs)),
            (seg, "build", "wall_sec", float(wall)),
            (seg, "build", "docs_per_sec", float(n_docs / wall) if wall else 0.0),
        ],
    )
    return n_docs


def resume_build(spark, transcripts, root, **kw) -> dict:
    """Re-run build_index skipping segments with lineage receipts."""
    kw.setdefault("n_segments", 1)
    return build_index(spark, transcripts, root, resume=True, overwrite=False, **kw)


def compact(spark: SparkSession, root: str) -> None:
    """Resin `optimize` (I12): merge all segments into segment 0.

    Decodes all blocks, re-groups by (field, term, block_id) across
    segments, re-encodes into a NEW versioned tree, and commits by
    atomically creating the next pointer file — concurrent readers see
    the old or the new snapshot, never a missing dir (the previous
    version's dirs are GC'd only by the compact after this one).  Docs /
    doclens / stats are compacted by plain re-partition-by-key rewrite."""
    ver, _ = _current_pointer(root)
    new_ver = ver + 1
    sfx = f"__v{new_ver}"
    new_dirs = {}

    post = read_postings(spark, root)
    if "positions_bin" in post.columns:
        # positional index: decode to the occurrence rows the encoder
        # originally consumed (doc repeated tf times, one pos each) and
        # re-encode positional — tf falls back out as run length, so the
        # merged blocks are bit-compatible with a fresh positional build
        dec = decoded_occurrences(post)
        blocks = postings_blocks(dec, unit_tf=True, positions=True)
    else:
        dec = decoded_postings(post).drop("segment")
        blocks = postings_blocks(dec)
    # this action streams BLOCK rows through the decode UDF under the
    # same conf as the merge-encoder; the byte cap in _arrow_batch_rows
    # bounds the decode batches (a dense universal-term block row decodes
    # to hundreds of KB) while the encoder still gets big record batches
    with _arrow_batch_rows(spark):
        (blocks.write.mode("overwrite").option("compression", "zstd")
         .option("parquet.block.size", str(ROW_GROUP_BYTES))
         .parquet(f"{root}/postings{sfx}/segment=0"))
    new_dirs["postings"] = f"postings{sfx}"

    for name, cur in (("doclens", p_doclens), ("stats", p_stats), ("docs", p_docs)):
        if name == "doclens" and not _exists(spark, cur(root)):
            continue  # doclens is an opt-in artifact
        df = spark.read.option("basePath", cur(root)).parquet(f"{cur(root)}/segment=*")
        if name == "stats":
            out = df.groupBy("field").agg(
                F.sum("total_tokens").alias("total_tokens"),
                F.sum("n_postings").alias("n_postings"),
                F.sum("n_docs").alias("n_docs"),
            ).coalesce(1)
        else:
            out = df.drop("segment")
        w = out.write.mode("overwrite")
        if name == "docs":
            # keep the compacted docs table point-fetchable (see
            # ROW_GROUP_BYTES)
            w = w.option("parquet.block.size", str(ROW_GROUP_BYTES))
        w.parquet(f"{root}/{name}{sfx}/segment=0")
        new_dirs[name] = f"{name}{sfx}"

    _write_pointer(spark, root, new_ver, new_dirs)  # THE commit point
    _gc_versions(spark, root, keep={ver, new_ver})
    _append_lineage(spark, root, 0, "compact", 0, 0.0)


def _gc_versions(spark, root: str, keep: set[int],
                 names: tuple = _VERSIONED,
                 plain_names: tuple | None = None) -> None:
    """Delete artifact dirs + pointer files of versions not in ``keep``
    (version 0 = the plain unversioned dirs; ``plain_names`` restricts
    which plain dirs are eligible — truncate_index keeps plain docs)."""
    import re as _re

    plain = names if plain_names is None else plain_names
    fs, jvm = _hadoop_fs(spark)
    Path = jvm.org.apache.hadoop.fs.Path
    if not fs.exists(Path(root)):
        return
    for st in fs.listStatus(Path(root)):
        nm = st.getPath().getName()
        m = _re.fullmatch(r"(%s)__v(\d+)" % "|".join(names), nm)
        if m and int(m.group(2)) not in keep:
            fs.delete(st.getPath(), True)
        elif nm in plain and 0 not in keep:
            fs.delete(st.getPath(), True)
        m2 = _re.fullmatch(r"_ptr_(\d+)\.json", nm)
        if m2 and int(m2.group(1)) not in keep:
            fs.delete(st.getPath(), True)


# ---------------------------------------------------------------- readers
def read_postings(spark: SparkSession, root: str,
                  snapshot: int | None = None) -> DataFrame:
    p = p_postings(root, snapshot)
    return spark.read.option("basePath", p).parquet(f"{p}/segment=*")


def read_docs(spark: SparkSession, root: str,
              snapshot: int | None = None) -> DataFrame:
    p = p_docs(root, snapshot)
    return spark.read.option("basePath", p).parquet(f"{p}/segment=*")


def read_stats(spark: SparkSession, root: str,
               snapshot: int | None = None) -> DataFrame:
    p = p_stats(root, snapshot)
    return spark.read.option("basePath", p).parquet(f"{p}/segment=*")


def read_doclens(spark: SparkSession, root: str,
                 snapshot: int | None = None) -> DataFrame:
    p = p_doclens(root, snapshot)
    return spark.read.option("basePath", p).parquet(f"{p}/segment=*")


# ---------------------------------------------------------------- fs utils
def _hadoop_fs(spark):
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    return jvm.org.apache.hadoop.fs.FileSystem.get(conf), jvm


def _exists(spark, path: str) -> bool:
    fs, jvm = _hadoop_fs(spark)
    return fs.exists(jvm.org.apache.hadoop.fs.Path(path))


def _rm(spark, path: str) -> None:
    fs, jvm = _hadoop_fs(spark)
    p = jvm.org.apache.hadoop.fs.Path(path)
    if fs.exists(p):
        fs.delete(p, True)


