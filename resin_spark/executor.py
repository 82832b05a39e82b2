"""Query execution: map → reduce → sort → fetch (SURVEY.md §2.7).

The reference's pipeline (SearchSession.cs:48-71) becomes:

* map    (X1/X2): predicate-pushed scan of the postings table —
         ``field = f AND term IN (tokens)`` reaches the Parquet reader
         (PushedFilters), and since postings files are sorted by
         (field, term) the row-group min/max stats prune almost all I/O.
         No tree walk, no per-segment loop: segments are just partitions.
* score  (X6, north rule): BM25 with driver-computed idf/avgdl constants
         folded into a single JVM expression (float64, op-order identical
         to the oracle so scores match bit-for-bit).
* reduce (X4/X5): Resin's boolean fold, faithfully, as DataFrame joins —
         and=inner+sum, or=left+boost-existing-only, not=left_anti,
         including the quirks: an unmatched term is *skipped* (not
         intersected) and a term merged into an *empty* result re-inserts
         all its postings (Reducer.cs:86-149).
* sort   (X7): orderBy(score desc, doc_id asc).offset(skip).limit(take)
         => TakeOrderedAndProject (true distributed top-k, no full sort).
* fetch  (X8): late materialization — broadcast the k result keys against
         the docs table (docs files are doc_id-sorted so min/max stats
         prune the scan).

Scale notes: the only data-proportional work is the postings scan of the
queried terms' blocks; everything after operates on matched postings only.
The per-query jobs (df lookup, emptiness probes) touch <= #terms rows.
"""

from __future__ import annotations

import math
import os
from functools import reduce as _functools_reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from resin_spark import build as B
from resin_spark.query import Query, parse_query, query_terms
from resin_spark.tokenizer import chars_key_py

K1 = 1.2
BB = 0.75


class SearchEngine:
    """Facade over an index at ``root`` (SURVEY.md §7 api.py)."""

    def __init__(self, spark: SparkSession, root: str,
                 fields: tuple[str, ...] = B.DEFAULT_FIELDS,
                 snapshot: int | None = None, io_mode: str = "auto"):
        """``snapshot`` pins every artifact read to that pointer version
        (time travel / rollback reads over the Iceberg-style snapshot
        commit; see build.list_snapshots).  None = follow the newest
        pointer, re-resolved per cached reader as today.

        ``io_mode='auto'`` enables EMBEDDED reads: when the index root is
        driver-visible (local filesystem), the size-gated driver-scored
        strategy reads posting blocks, the term-df mirror, and the top-k
        point fetch through pyarrow directly — zero Spark jobs on the
        warm query path.  This is the literal analog of the reference's
        embedded read session (SessionFactory caches ColumnReaders over
        local streams and ReadSession scores in-process,
        /root/reference/src/Sir.Search/Session/SearchSession.cs:34-46) —
        re-expressed as one more size-gated physical strategy: remote
        roots (hdfs://, s3://) or ``io_mode='spark'`` route every read
        through Spark exactly as before, and the distributed fold remains
        the only path above the driver caps.  All strategies are
        rank-identity-tested against each other and the oracle."""
        from resin_spark.session import ensure_package_shipped

        ensure_package_shipped(spark)
        self.spark = spark
        self.root = root
        self.fields = fields
        self.snapshot = snapshot
        self.io_mode = io_mode
        self._stats: dict[str, dict] | None = None
        self._cached: list[DataFrame] = []
        self._docs_df: DataFrame | None = None
        self._postings_df: DataFrame | None = None
        self._term_dir: DataFrame | None = None
        self._term_df_driver: dict | None = None
        self._term_df_checked = False
        self._docs_size: int | None = None
        self._pa_cache: dict = {}
        # decoded-postings LRU: (field, term) -> (uid, tf, dl) numpy
        # arrays, bounded by total postings (_TERM_LRU_MAX_POSTINGS ≈
        # 24 B/posting decoded).  The driver-side analog of the
        # reference's per-session ColumnReader cache
        # (SessionFactory.cs:396-403): repeat queries over warm terms
        # skip the postings read entirely.  clear_cache() drops it, so
        # benchmarks that reset between trials never time a cache hit.
        from collections import OrderedDict

        self._term_lru: "OrderedDict[tuple, tuple]" = OrderedDict()
        self._term_lru_postings = 0
        # block-stats LRU: (field, term) -> merged (bids, ub_tf, ub_dl,
        # raw_rows) bound arrays for the block-max paths (or None for a
        # term whose raw stat rows bust _BLOCKMAX_MAX_STAT_ROWS — the
        # bail outcome is deterministic at the engine's pinned snapshot,
        # so it caches too).  A repeat hot-term query skips the stats
        # scan the way the term LRU skips the postings read.
        self._stats_lru: "OrderedDict[tuple, tuple | None]" = OrderedDict()
        self._stats_lru_blocks = 0
        self.stats_lru_misses = 0  # diagnostic counter (tests/bench)
        # positional-occurrence LRU: (field, term) -> (drep, pos) int64
        # arrays (one row per occurrence, PRE-candidate-filter), fed by
        # _phrase_verify_positions_driver when a read turned out to cover
        # the term's entire df — the same full-read-only rule as the term
        # LRU.  A repeat phrase query then skips the positional read +
        # varint decode entirely.  Bounded by total occurrences; dropped
        # by clear_cache()/refresh() with the other caches.
        self._pos_lru: "OrderedDict[tuple, tuple]" = OrderedDict()
        self._pos_lru_occ = 0
        self.last_and_stats: dict = {}
        self.last_blockmax_stats: "dict | None" = None

    _TERM_LRU_MAX_POSTINGS = 4_000_000  # ~100 MB decoded
    _POS_LRU_MAX_OCC = 4_000_000  # ~64 MB decoded occurrence rows
    # serve phrase verifies from the positional LRU (see
    # _phrase_verify_positions_driver).  Forced-route test fixtures set
    # this False so the driver_sparkio strategy keeps exercising the
    # Spark read on a warm shared engine.
    _POS_LRU_SERVE = True

    def _lru_get(self, key: tuple):
        got = self._term_lru.get(key)
        if got is not None:
            self._term_lru.move_to_end(key)
        return got

    def _lru_put(self, key: tuple, arrs: tuple) -> None:
        n = len(arrs[0])
        if n > self._TERM_LRU_MAX_POSTINGS:
            return
        old = self._term_lru.pop(key, None)
        if old is not None:
            self._term_lru_postings -= len(old[0])
        self._term_lru[key] = arrs
        self._term_lru_postings += n
        while self._term_lru_postings > self._TERM_LRU_MAX_POSTINGS:
            _, ev = self._term_lru.popitem(last=False)
            self._term_lru_postings -= len(ev[0])

    def _pos_lru_get(self, key: tuple):
        got = self._pos_lru.get(key)
        if got is not None:
            self._pos_lru.move_to_end(key)
        return got

    def _pos_lru_put(self, key: tuple, arrs: tuple) -> None:
        n = len(arrs[0])
        if n > self._POS_LRU_MAX_OCC:
            return
        old = self._pos_lru.pop(key, None)
        if old is not None:
            self._pos_lru_occ -= len(old[0])
        self._pos_lru[key] = arrs
        self._pos_lru_occ += n
        while self._pos_lru_occ > self._POS_LRU_MAX_OCC:
            _, ev = self._pos_lru.popitem(last=False)
            self._pos_lru_occ -= len(ev[0])

    # ------------------------------------------------------- embedded IO
    # term-df mirrors built by the embedded path group over the postings
    # BLOCK rows driver-side; above this row count the Spark groupBy runs
    # instead (the mirror itself stays gated by _TERM_DF_DRIVER_MAX_ROWS)
    _PA_TERM_DIR_MAX_BLOCK_ROWS = 5_000_000

    @staticmethod
    def _local_path(p: str) -> str | None:
        """Driver-visible directory for ``p`` (no-scheme or file: paths
        only), else None — the embedded-IO eligibility check."""
        q = p[7:] if p.startswith("file://") else (
            p[5:] if p.startswith("file:") else p)
        if "://" in q:
            return None
        return q if os.path.isdir(q) else None

    def _pa_dataset(self, name: str):
        """pyarrow dataset over a local artifact dir, resolved once per
        engine at the pinned snapshot (same staleness semantics as the
        cached Spark readers).  None when ineligible: remote root,
        io_mode='spark', or pyarrow absent."""
        if self.io_mode != "auto":
            return None
        if name not in self._pa_cache:
            try:
                import pyarrow.dataset as pads
            except Exception:
                self._pa_cache[name] = None
            else:
                p = {"postings": B.p_postings, "docs": B.p_docs}[name](
                    self.root, self.snapshot)
                lp = self._local_path(p)
                self._pa_cache[name] = (
                    pads.dataset(lp, format="parquet", partitioning="hive")
                    if lp else None
                )
        return self._pa_cache[name]

    def _pa_postings_rows(self, filt, cols: tuple) -> "list[dict] | None":
        """Posting-block rows via the embedded dataset (row-group pruned
        by parquet stats on the pushed filter), or None when embedded IO
        is unavailable (caller runs the Spark collect)."""
        ds = self._pa_dataset("postings")
        if ds is None:
            return None
        tbl = ds.to_table(columns=list(cols), filter=filt)
        if tbl.num_rows == 0:
            return []
        data = [tbl.column(c).to_pylist() for c in cols]
        return [dict(zip(cols, vals)) for vals in zip(*data)]

    def _pa_filter_terms(self, by_field: dict):
        """pyarrow filter for the queried (field, term) keys, or None.
        Each term is its own ``term == t`` equality: pyarrow prunes row
        groups of the (field, term)-sorted postings files on equality
        min/max stats but keeps every group for ``isin``."""
        if self._pa_dataset("postings") is None:
            return None
        import pyarrow.dataset as pads

        expr = None
        for f, toks in sorted(by_field.items()):
            e = (pads.field("field") == f) & _functools_reduce(
                lambda a, b: a | b,
                [pads.field("term") == t for t in sorted(toks)])
            expr = e if expr is None else (expr | e)
        return expr

    # ------------------------------------------------------------ stores
    def documents(self) -> DataFrame:
        # reuse the DataFrame across queries: its FileIndex caches the
        # directory listing + parquet footers (re-listing per query costs
        # more than the query itself on object stores)
        if self._docs_df is None:
            self._docs_df = B.read_docs(self.spark, self.root, self.snapshot)
        return self._docs_df

    def postings(self) -> DataFrame:
        if self._postings_df is None:
            self._postings_df = B.read_postings(self.spark, self.root, self.snapshot)
        return self._postings_df

    def term_directory(self) -> DataFrame:
        """X1 — the in-memory term index analog.  The reference holds its
        term tree in RAM per session (SessionFactory caches ColumnReaders
        over the .ix stream); Spark-side that's a persisted metadata-only
        frame (field, term, chars_key, df) aggregated over segments and
        blocks — O(#terms) rows, no posting binaries.  First access pays
        one build job; every later query's df lookup filters the cached
        columnar frame instead of re-scanning parquet footers.  At 100 TB
        this is the term dictionary — it spreads across executor block
        managers (MEMORY_AND_DISK: cold terms spill, never OOM)."""
        if self._term_dir is None:
            from pyspark import StorageLevel

            self._term_dir = (
                self.postings()
                .groupBy("field", "term", "chars_key")
                .agg(F.sum("df_block").alias("df"))
                .persist(StorageLevel.MEMORY_AND_DISK)
            )
        return self._term_dir

    # vocabulary small enough to mirror onto the driver: one dict lookup
    # replaces the per-query df collect JOB (~0.3-0.4 s of pure Spark
    # scheduling at any corpus size).  Above the gate — a 100 TB-scale
    # vocabulary — df lookups stay on the persisted distributed frame.
    _TERM_DF_DRIVER_MAX_ROWS = 1_000_000

    def _term_df_driver_map(self) -> dict | None:
        """Driver-side (field, term) -> df mirror of the term directory —
        the literal RAM term tree of the reference (SessionFactory caches
        ColumnReaders; PathFinder reads weights off in-memory nodes).
        Size-gated: returns None (caller uses the distributed lookup)
        when the vocabulary exceeds _TERM_DF_DRIVER_MAX_ROWS."""
        if not self._term_df_checked:
            self._term_df_checked = True
            ds = self._pa_dataset("postings")
            if ds is not None and (
                    ds.count_rows() <= self._PA_TERM_DIR_MAX_BLOCK_ROWS):
                # embedded mirror: group block rows driver-side (pandas);
                # Σ df_block over blocks = df exactly as the Spark path
                pdf = ds.to_table(
                    columns=["field", "term", "df_block"]).to_pandas()
                agg = pdf.groupby(["field", "term"])["df_block"].sum()
                if len(agg) <= self._TERM_DF_DRIVER_MAX_ROWS:
                    self._term_df_driver = {
                        (f, t): int(v) for (f, t), v in agg.items()
                    }
                return self._term_df_driver
            rows = (
                self.term_directory().select("field", "term", "df")
                .limit(self._TERM_DF_DRIVER_MAX_ROWS + 1).collect()
            )
            if len(rows) <= self._TERM_DF_DRIVER_MAX_ROWS:
                self._term_df_driver = {
                    (r["field"], r["term"]): r["df"] for r in rows
                }
        return self._term_df_driver

    def _surface_df_map(self, by_field: dict, pred) -> dict:
        """df per queried (field, term) in surface mode: O(#query terms)
        dict lookups when the vocabulary fits on the driver, else one
        filtered collect off the persisted term directory."""
        m = self._term_df_driver_map()
        if m is not None:
            return {
                (f, t): m[(f, t)]
                for f, toks in by_field.items() for t in toks
                if (f, t) in m
            }
        df_rows = (
            self.term_directory().filter(pred)
            .groupBy("field", "term")
            .agg(F.sum("df").alias("df"))
            .collect()
        )
        return {(r["field"], r["term"]): r["df"] for r in df_rows}

    def refresh(self) -> None:
        """Drop EVERY cached listing/stat after new segments are
        appended: the Spark readers, the embedded pyarrow datasets
        (their file listing is materialized eagerly at construction, so
        an appended segment is invisible to a cached dataset even though
        the artifact dir is unchanged), and the decoded-postings /
        block-stats LRUs (a term's postings grow under append — a stale
        LRU hit, or the lru_warm fast path built on it, would keep
        serving the pre-append snapshot)."""
        self._docs_df = None
        self._postings_df = None
        self._stats = None
        self._docs_size = None
        self._term_df_driver = None
        self._term_df_checked = False
        if self._term_dir is not None:
            self._term_dir.unpersist()
            self._term_dir = None
        self._pa_cache.clear()
        self._term_lru.clear()
        self._term_lru_postings = 0
        self._stats_lru.clear()
        self._stats_lru_blocks = 0
        self._pos_lru.clear()
        self._pos_lru_occ = 0

    def doc_count(self) -> int:
        """S13 — GetDocCount (SessionFactory.cs:54-62).  Every stats row
        carries the same segment-total n_docs; fall back to a docs count
        if no field produced postings at all."""
        st = self.stats()
        for f in self.fields:
            if f in st:
                return st[f]["n_docs"]
        if st:
            return next(iter(st.values()))["n_docs"]
        return self.documents().count()

    def scan(self, skip: int = 0, take: int = 0,
             select: list[str] | None = None) -> DataFrame:
        """S1 — ordered scan with skip/take paging + projection
        (DocumentStreamSession.cs:28-47)."""
        df = self.documents().orderBy("doc_id")
        if skip:
            df = df.offset(skip)
        if take:
            df = df.limit(take)
        if select:
            df = df.select(*select)
        return df

    def fetch(self, conv_id: str, turn_idx: int) -> DataFrame:
        """S2 — point fetch by composite doc key; doc_id-sorted Parquet
        makes this a min/max-pruned point lookup."""
        return self.documents().filter(
            (F.col("conv_id") == conv_id) & (F.col("turn_idx") == turn_idx)
        )

    # ------------------------------------------------------------ stats
    def stats(self) -> dict[str, dict]:
        """Per-field corpus stats aggregated over segments, driver-side.
        avgdl = exact-int total_tokens / n_docs (bit-identical to oracle).
        Embedded IO reads the (tiny, per-segment) stats parquet through
        pyarrow — int64 sums commute, so the values are identical."""
        if self._stats is None:
            rows: list = []
            p = B.p_stats(self.root, self.snapshot)
            lp = self._local_path(p) if self.io_mode == "auto" else None
            if lp is not None:
                import pyarrow.dataset as pads

                pdf = pads.dataset(
                    lp, format="parquet", partitioning="hive"
                ).to_table(
                    columns=["field", "total_tokens", "n_docs"]
                ).to_pandas()
                agg = pdf.groupby("field")[["total_tokens", "n_docs"]].sum()
                rows = [
                    {"field": f, "total_tokens": int(r["total_tokens"]),
                     "n_docs": int(r["n_docs"])}
                    for f, r in agg.iterrows()
                ]
            else:
                rows = (
                    B.read_stats(self.spark, self.root, self.snapshot)
                    .groupBy("field")
                    .agg(
                        F.sum("total_tokens").alias("total_tokens"),
                        F.sum("n_docs").alias("n_docs"),
                    )
                    .collect()
                )
            self._stats = {
                r["field"]: {
                    "total_tokens": r["total_tokens"],
                    "n_docs": r["n_docs"],
                    "avgdl": (r["total_tokens"] / r["n_docs"]) if r["n_docs"] else 0.0,
                }
                for r in rows
            }
        return self._stats

    def idf(self, n_docs: int, df: int) -> float:
        return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))

    # ------------------------------------------------------------ search
    def search(
        self,
        query: dict | Query,
        k: int = 10,
        skip: int = 0,
        select: list[str] | None = None,
        term_identity: str = "surface",
    ) -> DataFrame:
        """Boolean BM25 top-k.  Returns a DataFrame ordered by
        (score desc, conv_id asc, turn_idx asc) with the selected doc
        columns + score.  ``term_identity='charbag'`` reproduces Resin's
        anagram-colliding char-bag term identity via chars_key."""
        q = parse_query(query) if isinstance(query, dict) else query
        sel = select or q.select
        if k and term_identity == "surface":
            # driver-scored fast path: when the df mirror already tells
            # us the candidate set is k-row-scale, the whole rank is two
            # tiny jobs (pushed block collect + point fetch) instead of a
            # Python-UDF decode job + broadcast exchange + docs scan
            hits = self._driver_hits(q, k, skip)
            if hits is not None:
                return self._fetch_hits(hits, sel)
        ranked = self._ranked(q, term_identity)
        if k or skip:
            # top-k path: TakeOrderedAndProject.  With k=0 and skip=0
            # ("all", e.g. save_as CTAS) the pre-sort would be a wasted
            # corpus-sized range shuffle — the docs join destroys order
            # and the final orderBy re-sorts anyway
            ranked = ranked.orderBy(F.desc("score"), F.asc("doc_id"))
        if skip:
            ranked = ranked.offset(skip)
        if k:
            ranked = ranked.limit(k)

        docs = self.documents()
        if k and (k + skip) <= self._POINT_FETCH_MAX_K \
                and self._docs_bytes() > self._POINT_FETCH_MIN_DOCS_BYTES:
            # big-table small-k path: run the TakeOrderedAndProject NOW
            # (the eager semantics of the reference's Search), then fetch
            # the hit documents via a pushed-down doc_id IN (...) point
            # scan — min/max row-group pruning on the doc_id-sorted docs
            # table — instead of a broadcast join that streams the whole
            # docs table past k rows.  Gated on docs size: below the
            # threshold the full-scan broadcast join is cheaper than a
            # second Spark action (measured: the extra action costs
            # ~0.3-0.5 s while a <4 GiB local scan costs less); above it
            # the saved scan dominates — at 100 TB this is THE fetch
            # path.  Identical rows (score carried as a literal frame).
            hits = ranked.collect()
            lit = self.spark.createDataFrame(
                [(int(r["doc_id"]), float(r["score"])) for r in hits],
                "doc_id long, score double",
            )
            if hits:
                docs = docs.filter(
                    F.col("doc_id").isin([int(r["doc_id"]) for r in hits])
                )
            out = docs.join(F.broadcast(lit), "doc_id")
        else:
            # broadcast only when k bounds the ranked side; k=0 ("all",
            # e.g. save_as CTAS) can be corpus-sized — let Spark pick the
            # strategy
            right = F.broadcast(ranked) if k else ranked
            out = docs.join(right, "doc_id")
        return self._project_ranked(out, docs, sel)

    @staticmethod
    def _ranked_cols(docs: DataFrame, sel: list[str] | None) -> list[str]:
        cols = ["conv_id", "turn_idx"]
        if sel:
            cols += [c for c in sel if c not in ("conv_id", "turn_idx")]
        else:
            cols += [c for c in ("role", "text", "tool", "ts") if c in docs.columns]
        return cols

    def _project_ranked(self, out: DataFrame, docs: DataFrame,
                        sel: list[str] | None) -> DataFrame:
        out = out.select(*self._ranked_cols(docs, sel), "score")
        return out.orderBy(F.desc("score"), F.asc("conv_id"), F.asc("turn_idx"))

    def topk(self, query: dict | Query, k: int = 10, skip: int = 0,
             term_identity: str = "surface") -> list[tuple[tuple[str, int], float]]:
        """Collected form for oracle comparison."""
        rows = self.search(query, k=k, skip=skip,
                           select=["conv_id", "turn_idx"],
                           term_identity=term_identity).collect()
        return [((r["conv_id"], r["turn_idx"]), r["score"]) for r in rows]

    # phrase verify: candidate sets up to this size fetch their text via
    # the pushed doc_id IN point scan; bigger sets verify through a
    # broadcast join against the docs table (one full scan, still only
    # one job — an IN-list of 100k literals would bloat the plan instead)
    _PHRASE_POINT_MAX_CANDIDATES = 4096
    # driver positional verify: max decoded positions (Σ tf over the
    # phrase terms' collected blocks) — ~8 B each, a few hundred MB of
    # transient numpy at the cap; beyond it the text verify runs instead
    _PHRASE_POS_MAX_POSITIONS = 8_000_000

    def phrase_search(self, phrase: str, field: str = "text", k: int = 10,
                      skip: int = 0,
                      select: list[str] | None = None) -> DataFrame:
        """Exact-phrase ranked retrieval (beyond-reference: Resin's
        "phrase queries" — /root/reference/README.md:34 — score a phrase
        as a BAG of terms; SearchSession keeps no positional data, so
        adjacency is never enforced).  Here a doc matches only if the
        phrase's tokens appear consecutively, in order, in the field's
        token stream; matched docs rank by the engine's standard AND
        score (BM25 sum over the phrase's distinct terms), so results
        are search()'s AND ranking restricted to true phrase matches.

        Physical plan (the 100 TB shape): candidates come from the
        boolean AND of the phrase's terms through the standard physical
        strategies (driver-scored, block-pruned intersection, or the
        distributed mask fold) — a doc can only contain the phrase if it
        contains every term — then adjacency is verified ONLY on
        candidate rows: the tokenizer-normalized text (same token stream
        as the index, JVM-side) must contain the space-joined phrase.
        Small candidate sets read their text via the pushed
        ``doc_id IN (...)`` point scan; verify cost ∝ candidates, never
        corpus size.  This is the classic verify-after-intersection
        phrase plan of positionless indexes.

        On a POSITIONAL index (build_index(..., positions=True)) the
        verify never touches text at all: adjacency is checked against
        the varint position gaps stored in the posting blocks — the
        driver-scored path intersects position sets in numpy over the
        candidate blocks (pushed block_id IN scan), and the over-cap
        distributed path reduces (doc, pos - phrase_index) cells with a
        groupBy whose plan contains no docs-table scan (plan-gated).
        Both are rank-identical to the text verify (parity-tested)."""
        from resin_spark.tokenizer import TOKEN_SEP_JAVA, tokenize_py

        toks = tokenize_py(phrase)
        docs = self.documents()
        if not toks:
            empty = self.spark.range(0).select(
                F.col("id").alias("doc_id"), F.lit(0.0).alias("score"))
            return self._project_ranked(
                docs.join(F.broadcast(empty), "doc_id"), docs, select)
        q = parse_query({"and": {field: phrase}})
        if len(toks) == 1:
            # single-token phrase == single-term query
            return self.search(q, k=k, skip=skip, select=select)
        use_pos = "positions_bin" in self.postings().columns
        pos_hits = self._driver_hits(q, 0, 0) if use_pos else None
        if use_pos and pos_hits is not None:
            matched = self._phrase_verify_positions_driver(
                field, toks, pos_hits)
            if matched is not None:
                page = matched[skip:skip + k] if k else matched[skip:]
                return self._fetch_hits(page, select)
        if use_pos:
            # over the driver caps (no driver hits, or the positional
            # collect would not be driver-sized): distributed positional
            # verify — still postings-only, no document text read
            match = self._phrase_match_docs_positional(field, toks)
            if match is not None:
                ranked = self._ranked(q, "surface")
                out = docs.join(ranked.join(match, "doc_id"), "doc_id")
                out = out.orderBy(F.desc("score"), F.asc("doc_id"))
                if skip:
                    out = out.offset(skip)
                if k:
                    out = out.limit(k)
                return self._project_ranked(out, docs, select)
        # tokenizer-normalized field: exactly the token stream the index
        # saw, space-joined and space-delimited so containment can't
        # match across token boundaries
        norm = F.concat(
            F.lit(" "),
            F.array_join(
                F.filter(F.split(F.lower(F.col(field)), TOKEN_SEP_JAVA),
                         lambda x: x != F.lit("")),
                " "),
            F.lit(" "),
        )
        needle = " " + " ".join(toks) + " "
        adjacent = F.instr(norm, needle) > 0
        # the positional branch already paid for the driver hits — reuse
        hits = pos_hits if use_pos else self._driver_hits(q, 0, 0)
        if (hits is not None and len(hits) <= self._PHRASE_POINT_MAX_CANDIDATES
                and self._pa_dataset("docs") is not None):
            # embedded verify: candidate texts via one pyarrow point
            # read, adjacency via the pandas tokenizer twin (tested equal
            # to the JVM token stream), final frame via the job-free
            # embedded point fetch.  hits arrive (score desc, doc_id asc)
            # — the ranking order — so the page is a plain slice.
            if not hits:
                return self._fetch_hits([], select)
            from resin_spark.tokenizer import tokenize_pandas

            pdf = self._docs_by_id([int(d) for d, _ in hits],
                                   ["doc_id", field]).to_pandas()
            joined = tokenize_pandas(pdf[field].fillna("")).map(
                lambda ts: " " + " ".join(ts) + " ")
            ok = set(pdf.loc[joined.str.contains(needle, regex=False),
                             "doc_id"].astype("int64"))
            matched = [(d, s) for d, s in hits if int(d) in ok]
            page = matched[skip:skip + k] if k else matched[skip:]
            return self._fetch_hits(page, select)
        if (hits is not None
                and len(hits) <= self._PHRASE_POINT_MAX_CANDIDATES):
            # point-sized candidate set: k-row literal + pushed doc_id IN
            # scan.  BIGGER driver hit lists fall through to the ranked
            # join below — shipping 100k+ (doc, score) tuples through a
            # driver-local relation measured 28 s at sf0.1 ("banana
            # cantalope": ~180k AND candidates), vs ~1 s for the
            # distributed rescore + one docs scan.
            if not hits:
                lit = self.spark.createDataFrame([], "doc_id long, score double")
            else:
                lit = self.spark.createDataFrame(
                    [(int(d), float(s)) for d, s in hits],
                    "doc_id long, score double")
            cand = docs
            if hits:
                cand = docs.filter(
                    F.col("doc_id").isin([int(d) for d, _ in hits]))
            out = cand.join(F.broadcast(lit), "doc_id").filter(adjacent)
        else:
            ranked = self._ranked(q, "surface")
            out = docs.join(ranked, "doc_id").filter(adjacent)
        out = out.orderBy(F.desc("score"), F.asc("doc_id"))
        if skip:
            out = out.offset(skip)
        if k:
            out = out.limit(k)
        return self._project_ranked(out, docs, select)

    def _phrase_verify_positions_driver(
            self, field: str, toks: list[str],
            hits: list[tuple[int, float]]):
        """Filter driver-computed AND hits to exact phrase matches using
        the positional postings ALONE — the docs table is never read
        (verify cost ∝ candidate postings, not text bytes: the 100 TB
        phrase path).  Collects the phrase terms' blocks restricted to
        the candidates' conv blocks (pushed ``block_id IN`` — same
        pruning as _driver_and_hits), reconstructs per-doc position sets
        (postings.decode_positions), and intersects them in numpy: doc
        matches iff some start p has p+i in positions(toks[i]) for every
        phrase index i — computed as a multiset count over packed
        (dense_doc, pos - i) keys.  Returns surviving hits in ranking
        order; None = the caller falls through to the DISTRIBUTED
        positional verify (_phrase_match_docs_positional) first, with
        the text verify only as the final fallback (mixed-layout
        segments, or a packed-key overflow there too)."""
        import numpy as np

        from resin_spark.postings import (decode_counts, decode_doc_ids,
                                          decode_positions)

        if not hits:
            return []
        m = len(toks)
        cand = np.array(sorted({int(d) for d, _ in hits}), dtype=np.int64)
        blocks = np.unique(np.right_shift(cand, B.BLOCK_SHIFT))
        blist = ([int(b) for b in blocks]
                 if len(blocks) <= self._AND_BLOCK_IN_MAX else None)
        uniq = sorted(set(toks))
        # warm terms come off the positional-occurrence LRU (full-term
        # (drep, pos) arrays — a superset of any block restriction, and
        # the candidate filter below prunes them identically); only LRU
        # misses are read + decoded
        pos_cached: dict[str, tuple] = {}
        miss = []
        for t in uniq:
            got = (self._pos_lru_get((field, t))
                   if self._POS_LRU_SERVE else None)
            if got is not None:
                pos_cached[t] = got
            else:
                miss.append(t)
        cols = ("term", "sum_tf", "doc_ids_bin", "tfs_bin",
                "positions_bin")
        rows = []
        if miss:
            rows = None
            pa_f = self._pa_filter_terms({field: miss})
            if pa_f is not None:
                import pyarrow.dataset as pads

                if blist is not None:
                    pa_f = pa_f & pads.field("block_id").isin(blist)
                try:
                    rows = self._pa_postings_rows(pa_f, cols)
                except Exception:
                    # mixed-layout dataset whose discovered schema lacks
                    # the positions column — read through Spark (nulls
                    # surface there and trigger the text-verify fallback
                    # below)
                    rows = None
            if rows is None:
                pred = (F.col("field") == field) & F.col("term").isin(miss)
                if blist is not None:
                    pred = pred & F.col("block_id").isin(blist)
                rows = self.postings().filter(pred).select(*cols).collect()
        per_tok: dict[str, list] = {t: [] for t in miss}
        total_pos = 0
        for r in rows:
            if r["positions_bin"] is None:
                return None  # mixed non-positional segment
            total_pos += r["sum_tf"]
            per_tok[r["term"]].append(r)
        if total_pos > self._PHRASE_POS_MAX_POSITIONS:
            # decoded occurrence volume (Σ tf, i.e. positions, can far
            # exceed Σ df for a hot term in long docs) would not be
            # driver-sized — hand the query to the distributed
            # positional verify.  Cached terms don't count against the
            # cap: their decode cost is already paid and their arrays
            # already live in driver RAM (bounded by the pos LRU budget).
            return None
        dfm = self._term_df_driver_map()
        dec: dict[str, tuple] = {}
        max_pos = 0
        for t in uniq:
            if t in pos_cached:
                drep, pos = pos_cached[t]
            else:
                if not per_tok[t]:
                    return []  # phrase token absent from candidate blocks
                dparts, pparts = [], []
                ndocs = 0
                for r in per_tok[t]:
                    tfs = decode_counts(bytes(r["tfs_bin"]))
                    ids = decode_doc_ids(bytes(r["doc_ids_bin"]))
                    ndocs += len(ids)
                    dparts.append(np.repeat(ids, tfs))
                    pparts.append(
                        decode_positions(bytes(r["positions_bin"]), tfs))
                drep = np.concatenate(dparts)
                pos = np.concatenate(pparts)
                if dfm is not None and dfm.get((field, t)) == ndocs:
                    # the read covered the term's ENTIRE df (the mirror
                    # df is the same Σ df_block quantity) — cacheable as
                    # a full decode, like the term LRU's rule
                    self._pos_lru_put((field, t), (drep, pos))
            # keep only candidate docs' occurrences (dense index = rank
            # in the sorted candidate array, for compact packed keys)
            j = np.searchsorted(cand, drep)
            ok = (j < len(cand)) & (cand[np.minimum(j, len(cand) - 1)]
                                    == drep)
            dense, pos = j[ok], pos[ok]
            dec[t] = (dense, pos)
            if len(pos):
                max_pos = max(max_pos, int(pos.max()))
        stride = max_pos + m + 2
        if len(cand) * stride > (1 << 62):
            return None  # packed int64 keys would overflow
        key_parts = []
        for i, t in enumerate(toks):
            dense, pos = dec[t]
            sel = pos >= i
            if not sel.any():
                return []
            key_parts.append(dense[sel] * np.int64(stride) + (pos[sel] - i))
        # keys are unique within each part ((doc, pos) unique per term),
        # so a key counted m times is covered by every phrase index
        u, c = np.unique(np.concatenate(key_parts), return_counts=True)
        good = u[c == m]
        if not len(good):
            return []
        matched = set(cand[np.unique(good // stride)].tolist())
        return [(d, s) for d, s in hits if int(d) in matched]

    def _phrase_match_docs_positional(self, field: str,
                                      toks: list[str]):
        """Distinct doc_ids containing the phrase, computed ENTIRELY from
        positional postings — the over-cap distributed phrase verify.
        Decodes the phrase terms' blocks to occurrence rows (pushed
        (field, term) scan), normalizes each occurrence to its implied
        phrase-start cell (pos - phrase_index), and keeps (doc, start)
        cells covered by all m phrase indexes.  The docs table appears
        nowhere in this plan (plan-gated in tests); shuffle size ∝ the
        phrase terms' occurrence counts, never corpus size.  Returns None
        when a matched block lacks positions (mixed segments — caller
        falls back to the text verify)."""
        m = len(toks)
        uniq = sorted(set(toks))
        pred = (F.col("field") == field) & F.col("term").isin(uniq)
        post = self.postings().filter(pred)
        if post.filter(F.col("positions_bin").isNull()).limit(1).count():
            return None
        occ = B.decoded_occurrences(
            post.select("field", "term", "doc_ids_bin", "tfs_bin",
                        "dls_bin", "positions_bin"))
        tok_idx = self.spark.createDataFrame(
            [(t, i) for i, t in enumerate(toks)], "term string, ti int")
        return (
            occ.join(F.broadcast(tok_idx), "term")
            .select("doc_id", (F.col("pos") - F.col("ti")).alias("pa"), "ti")
            .filter(F.col("pa") >= 0)
            .groupBy("doc_id", "pa")
            .agg(F.count_distinct("ti").alias("nt"))
            .filter(F.col("nt") == F.lit(m))
            .select("doc_id")
            .dropDuplicates(["doc_id"])
        )

    # ------------------------------------------------------------ internals
    def _key_col(self, term_identity: str) -> str:
        return "term" if term_identity == "surface" else "chars_key"

    # mask-fold fast path bounds: one bit per unique (field, term) key
    _MASK_MAX_KEYS = 63
    _MASK_MAX_CLASSES = 4096
    # above this many mask classes the score expression switches from a
    # nested when-chain (codegen-friendly at small depth) to one flat
    # create_map lookup — Catalyst's recursive analyzer overflows the
    # JVM stack on chains ~1000+ deep, and the static fold enumerates up
    # to 4095 classes for 12 keys
    _MASK_WHEN_CHAIN_MAX = 256
    # search(): up to this many hits fetch via eager top-k + pushed-down
    # doc_id IN point scan (beyond it, the lazy broadcast-join path) —
    # but only when the docs table is big enough that skipping its full
    # scan beats one extra Spark action
    _POINT_FETCH_MAX_K = 1024
    _POINT_FETCH_MIN_DOCS_BYTES = 4 << 30

    # driver-scored fast path: total candidate postings (Σ df over the
    # query's terms, known BEFORE any job from the driver term-df mirror)
    # up to which decode + boolean fold + BM25 run on the driver over the
    # collected block binaries.  Everything after the collect is
    # vectorized numpy over O(Σdf) memory (~24 B/posting decoded, a few
    # B/posting on the wire), so the cap is a driver-RAM/collect-size
    # bound, not a compute bound: 2M postings ≈ 50 MB decoded, ~100 ms.
    # Above the cap or without the mirror (100 TB vocabularies) the
    # distributed path runs unchanged, so this is latency sugar for the
    # bounded-candidate case, exactly the reference's embedded in-RAM
    # read session (SessionFactory caches ColumnReaders; ReadSession
    # scores driver-side) — re-expressed as a size-gated physical
    # strategy.
    _DRIVER_SCORE_MAX_POSTINGS = 2_000_000

    def _driver_hits(self, q: Query, k: int,
                     skip: int) -> list[tuple[int, float]] | None:
        """Top-(skip+k) (doc_id, score) computed driver-side, or None when
        the query is not eligible (no df mirror / too many candidates /
        too many keys).  Semantics and float64 op tree are EXACTLY the
        mask fold's: _mask_reduce over exact observed mask classes, score
        = left-associative Σ of per-key BM25 weights in S[mask] order; the
        differential fuzz suite runs this strategy against the others."""
        dfm = self._term_df_driver_map()
        if dfm is None:
            return None
        terms = query_terms(q)
        if not terms:
            return []
        by_field: dict[str, set[str]] = {}
        for t in terms:
            by_field.setdefault(t.field, set()).add(t.token)
        keys = sorted((f, tok) for f, toks in by_field.items() for tok in toks)
        if len(keys) > self._MASK_MAX_KEYS:
            return None
        idx = {key: i for i, key in enumerate(keys)}
        df_by_key = [dfm.get(key, 0) for key in keys]
        if self._DRIVER_SCORE_MAX_POSTINGS < 0:
            return None  # driver scoring disabled (the test/strategy hook)
        # warm-repeat fast path: when every queried key is already in the
        # decoded-postings LRU AND the query fits the driver-scored cap,
        # the in-memory mask fold below beats any block-max re-read (no
        # stats scan, no block fetch) — so repeat queries skip the
        # block-max branches.  Over-cap hot terms still take block-max
        # (the LRU never holds them: partial decodes are not cacheable),
        # where the stats LRU covers the repeat cost instead.
        # _BLOCKMAX_WARM_FALLBACK=False keeps forced-route strategy
        # fixtures actually exercising block-max on repeat queries.
        lru_warm = (self._BLOCKMAX_WARM_FALLBACK
                    and sum(df_by_key) <= self._DRIVER_SCORE_MAX_POSTINGS
                    and all(not df_by_key[i]
                            or self._lru_get(keys[i]) is not None
                            for i in range(len(keys))))
        if (not lru_warm and k and len(keys) == 1 and len(q.terms) == 1
                and q.op in ("and", "or")
                and q.and_q is None and q.or_q is None and q.not_q is None
                and df_by_key[0] > self._BLOCKMAX_MIN_POSTINGS):
            # hot single term: block-max early termination — read block
            # STATS only, then decode blocks in upper-bound order until
            # the k-th score beats every unread block's bound.  At 10^12
            # turns a stopword's top-10 stops being a full postings
            # decode: bytes read ∝ the few bound-competitive blocks.
            hits = self._driver_single_term_blockmax(
                keys[0], df_by_key[0], k, skip)
            if hits is not None:
                return hits
        # a SIMPLE flat NOT clause (op "not", no nesting) rides the
        # block-max paths for free: NOT is the LAST fold step
        # (and → or → not, Reducer.cs:72-83), subtracts the UNION of its
        # terms' postings and contributes no score — so negative terms
        # decode ONLY inside candidate blocks and the positive bounds
        # stay true upper bounds.  negs None = NOT shape ineligible.
        negs: "list[tuple[str, str]] | None" = None
        if q.and_q is None and q.or_q is None:
            if q.not_q is None:
                negs = []
            elif self._flat_not(q.not_q):
                negs = [(t.field, t.token) for t in q.not_q.terms]
        if (not lru_warm and k and q.terms and q.op in ("and", "or")
                and q.and_q is None
                and sum(df_by_key) > self._BLOCKMAX_FLAT_MIN_POSTINGS):
            # flat OR (+ or_q chain): Resin's order-sensitive OR
            # (Reducer.cs:86-149) admits docs only from the FIRST
            # matched term — the OR merge adopts the incoming dict ONLY
            # on an empty accumulator and is boost-only otherwise — so
            # the candidate set is anchor-postings-sized and the
            # multi-term block-max decode applies
            # (see _driver_flat_blockmax).  A single matched term with a
            # NOT clause takes the same route (the no-NOT single-term
            # case kept its own path above).
            #
            # An or_q CHAIN flattens exactly when every chain clause
            # carries at most ONE matched term: such a clause's result
            # IS that term's postings dict, and its merge boosts
            # accumulator docs by the term's weight — identical to a
            # flat "or" term (with an empty accumulator it ADMITS, i.e.
            # becomes the anchor, which the flat fold also models).  A
            # clause with 2+ matched terms does NOT flatten: its
            # internal anchor restricts the clause's boosts to its own
            # postings.  Flat NOTs on chain nodes all merge AFTER every
            # boost (the fold order is terms → and_q → or_q → not_q and
            # deeper clauses are or_q SUBTREES of shallower nodes), so
            # they union into one trailing subtraction.
            matched = [t for t in q.terms
                       if dfm.get((t.field, t.token), 0) > 0]
            cnegs: "list[tuple[str, str]] | None" = []
            if q.not_q is not None:
                cnegs = ([(t.field, t.token) for t in q.not_q.terms]
                         if self._flat_not(q.not_q) else None)
            node = q.or_q
            while cnegs is not None and node is not None:
                nm = [t for t in node.terms
                      if dfm.get((t.field, t.token), 0) > 0]
                if (node.op != "or" or node.and_q is not None
                        or len(nm) > 1
                        or (node.not_q is not None
                            and not self._flat_not(node.not_q))):
                    cnegs = None
                    break
                matched.extend(nm)
                if node.not_q is not None:
                    cnegs.extend((t.field, t.token)
                                 for t in node.not_q.terms)
                node = node.or_q
            n_top = len([t for t in q.terms
                         if dfm.get((t.field, t.token), 0) > 0])
            if (cnegs is not None and matched
                    and all(t.op == "or" for t in matched[1:n_top])
                    and (len(matched) >= 2 or cnegs
                         or q.or_q is not None)):
                # the last disjunct: a chain query with ONE matched term
                # can't take the single-term branch above (its key count
                # includes unmatched chain terms), so the flat path IS
                # its block-max route
                hits = self._driver_flat_blockmax(matched, dfm, k, skip,
                                                  "or", cnegs)
                if hits is not None:
                    return hits
        if sum(df_by_key) > self._DRIVER_SCORE_MAX_POSTINGS:
            hits = self._driver_and_hits(q, keys, idx, df_by_key, k, skip)
            if hits is None and k and (self._pure_and(q)
                                       or (negs and q.op == "and")):
                # hot AND (optionally + flat NOT): every matched term
                # over the seed cap (or the seed's pruned collect
                # overflowed) — the intersection's candidate blocks
                # still bound-order-decode like the OR.  Flattening the
                # and_q clause chain is exact ONLY when every clause has
                # >=1 MATCHED term: unmatched terms are skipped WITHIN a
                # clause, but a sub-clause whose whole dict comes up
                # empty (zero tokens, or all terms unmatched) merges an
                # EMPTY dict under AND, which CLEARS the accumulator —
                # that rule belongs to the distributed fold
                # (x_empty_tokens_and / x_unmatched_subclause)
                clauses, qq = [], q
                while qq is not None:
                    clauses.append(
                        [t for t in qq.terms
                         if dfm.get((t.field, t.token), 0) > 0])
                    qq = qq.and_q
                if all(clauses):
                    hits = self._driver_flat_blockmax(
                        [t for c in clauses for t in c], dfm, k, skip,
                        "and", negs or [])
            return hits
        self._evict_persisted()
        if not any(df_by_key):
            return []
        import numpy as np

        from resin_spark.postings import decode_counts, decode_doc_ids

        empty64 = np.empty(0, dtype=np.int64)
        # warm terms come straight off the decoded-postings LRU; only
        # cache misses (with df > 0) are read
        cached: dict[int, tuple] = {}
        miss_by_field: dict[str, set[str]] = {}
        for key, i in idx.items():
            if not df_by_key[i]:
                continue
            got = self._lru_get(key)
            if got is not None:
                cached[i] = got
            else:
                miss_by_field.setdefault(key[0], set()).add(key[1])
        rows: list = []
        if miss_by_field:
            cols = ("field", "term", "doc_ids_bin", "tfs_bin", "dls_bin")
            pa_f = self._pa_filter_terms(miss_by_field)
            rows = (self._pa_postings_rows(pa_f, cols)
                    if pa_f is not None else None)
            if rows is None:
                pred = _functools_reduce(
                    lambda a, b: a | b,
                    [
                        (F.col("field") == f) & F.col("term").isin(sorted(toks))
                        for f, toks in miss_by_field.items()
                    ],
                )
                rows = self.postings().filter(pred).select(*cols).collect()
        # per-key sorted-unique (doc_id, tf, dl) arrays; mirrors the mask
        # agg (sum tf, max dl — surface mode has one row per (doc, key),
        # so both are identity).  All O(Σdf), no nkeys×ndocs dense state.
        bufs: list[list] = [[] for _ in keys]
        for r in rows:
            i = idx.get((r["field"], r["term"]))
            if i is not None:
                bufs[i].append((bytes(r["doc_ids_bin"]), bytes(r["tfs_bin"]),
                                bytes(r["dls_bin"])))
        uid_k, tf_k, dl_k = [], [], []
        for i, blist in enumerate(bufs):
            if i in cached:
                uid, tf, dl = cached[i]
            elif not blist:
                uid, tf, dl = empty64, empty64, empty64
            else:
                ids = np.concatenate([decode_doc_ids(b) for b, _, _ in blist])
                tfs = np.concatenate([decode_counts(b) for _, b, _ in blist])
                dls = np.concatenate([decode_counts(b) for _, _, b in blist])
                uid, inv = np.unique(ids, return_inverse=True)
                tf = np.zeros(len(uid), dtype=np.int64)
                np.add.at(tf, inv, tfs)
                dl = np.zeros(len(uid), dtype=np.int64)
                np.maximum.at(dl, inv, dls)
                self._lru_put(keys[i], (uid, tf, dl))
            uid_k.append(uid)
            tf_k.append(tf)
            dl_k.append(dl)
        uids = np.unique(np.concatenate(uid_k)) if any(
            len(u) for u in uid_k) else empty64
        if not len(uids):
            return []
        mask_arr = np.zeros(len(uids), dtype=np.int64)
        for i, uid in enumerate(uid_k):
            if len(uid):
                mask_arr[np.searchsorted(uids, uid)] |= np.int64(1 << i)
        mvals, mcounts = np.unique(mask_arr, return_counts=True)
        if len(mvals) > self._MASK_MAX_CLASSES:
            return None
        observed = {int(m): int(c) for m, c in zip(mvals, mcounts)}
        return self._score_mask_classes(q, observed, uids, mask_arr,
                                        uid_k, tf_k, dl_k, idx, df_by_key,
                                        k, skip)

    # Block-max single-term top-k (the 100 TB hot-term path): a query
    # for one hot term does not need the term's full postings — each
    # posting block already carries (max_tf, min_dl) stats (build.py),
    # which bound the best BM25 score any of its docs can reach (score
    # is monotone up in tf, down in dl; float64 rounding is monotone, so
    # the bound evaluated with the same op tree is a true upper bound).
    # Blocks decode in (bound desc, block_id asc) order; iteration stops
    # when the running k-th hit beats every unread block's bound.  The
    # block_id-asc secondary order makes ties terminate too: block_id is
    # monotone in doc_id (build.py:490), so once the k-th hit's score
    # EQUALS the next bound and the next block's doc range lies past the
    # k-th doc_id, no unread doc can displace it under the (score desc,
    # doc_id asc) final order.  This is the Block-Max WAND bound of
    # wand.py applied to the embedded driver path, where the single-term
    # shape makes it exact with no pivot bookkeeping.  Engages above
    # _BLOCKMAX_MIN_POSTINGS; below it the standard decode-once path is
    # cheaper END TO END — its cost is one pushed scan plus a decode
    # bounded by df itself (corpus-size-independent), while block-max
    # pays a stats read plus several chunked scans whose per-scan fixed
    # cost grows with the dataset (measured at the 6M tier: a 360k-df
    # term took 1.45 s cold / 1.54 s warm via 14-block block-max vs
    # 0.66 / 0.34 s standard, while the 1.8M-df hot term took 0.44 s
    # via 2-block block-max vs 1.95 s standard — pruning must be strong
    # for block-max to win, and a lone term needs high df for its bound
    # variance to prune hard).  Bails to the standard paths (None) if
    # termination
    # hasn't happened by _DRIVER_SCORE_MAX_POSTINGS decoded occurrences.
    _BLOCKMAX_MIN_POSTINGS = 500_000
    # chunk growth 2 -> 4 -> 8 -> ... -> cap: top-k usually terminates
    # within the first chunks (one block holds thousands of postings), so
    # starting small maximizes pruning; doubling keeps the worst case at
    # O(log) fetches more than a single scan
    _BLOCKMAX_CHUNK_START = 2
    _BLOCKMAX_CHUNK_MAX = 64
    # once this many blocks decoded without terminating, the bounds are
    # not pruning this query — switch from doubled chunks to slab-sized
    # fetches (each chunk fetch is a fresh dataset scan whose fixed cost
    # dominates at corpus scale; a no-prune shape pays ~4 scans instead
    # of ~8).  The slab stays finite so one chunk's decode volume stays
    # driver-RAM-bounded ahead of the _BLOCKMAX_DECODE_MAX check.
    _BLOCKMAX_BULK_AFTER = 30
    _BLOCKMAX_BULK_SLAB = 256
    # flat (multi-term / NOT) block-max gate: engage only ABOVE the
    # driver-scored cap, where the alternative is the distributed fold.
    # Measured (BENCH.md round 5): for Σdf under the cap the standard
    # decode-once path wins BOTH cold (one pushed scan per miss vs
    # several chunked scans — the per-scan fixed cost dominates decode
    # volume at driver sizes) and warm (term LRU in-memory fold).  The
    # single-term gate stays low (_BLOCKMAX_MIN_POSTINGS): a lone hot
    # term's bound variance makes its pruning reliably strong (measured
    # 2/226 blocks at the 6M tier vs a 1.95 s full decode)
    _BLOCKMAX_FLAT_MIN_POSTINGS = 2_000_000
    # allow the lru_warm fast path (repeat queries whose keys are all
    # term-LRU-cached skip block-max for the in-memory fold); strategy
    # fixtures set this False so forced block-max routes stay forced
    _BLOCKMAX_WARM_FALLBACK = True
    # driver bound on the STATS read (3 int64 columns): ~24 B/row.  A
    # term spanning more blocks than this (a stopword at ~10^11+ turns)
    # falls back to the distributed fold / WAND path
    _BLOCKMAX_MAX_STAT_ROWS = 8_000_000
    # decoded-occurrence bail for the block-max decodes: degenerate
    # bounds (every block tied at the global max) mean no early
    # termination, so stop decoding at the same driver-RAM volume the
    # full-decode path allows and fall back to the standard strategies.
    # Deliberately its OWN constant: _DRIVER_SCORE_MAX_POSTINGS is a
    # path-gating knob (tests/strategies set it to 0 to force routes)
    # and must not also zero the bail
    _BLOCKMAX_DECODE_MAX = 2_000_000

    # bound on the merged bound arrays held by the stats LRU (~24 B per
    # block row); block counts are postings/BLOCK-sized, so this holds
    # thousands of hot terms
    _STATS_LRU_MAX_BLOCKS = 2_000_000

    def _block_stats(self, key: tuple[str, str]):
        """Merged per-block bound inputs for one (field, term):
        ``(bids, ub_tf, ub_dl, raw_rows)`` — block ids ASC, per-block tf
        upper bound (sum of segment-row max_tf: a doc's merged tf is the
        sum over segments), per-block dl lower bound (min of min_dl),
        and the raw pre-merge stat row count (the
        _BLOCKMAX_MAX_STAT_ROWS budget is on raw rows).  ``None`` when
        the raw rows alone bust that budget.  LRU-cached per engine —
        the engine pins a snapshot, so entries can never go stale, and
        clear_cache() drops them so benchmark cold trials stay cold.
        The block-max twin of the decoded-postings term LRU (both
        re-express the reference's per-session cached ColumnReaders,
        SessionFactory.cs:396-403).  Caller must have checked that the
        embedded postings dataset exists."""
        if key in self._stats_lru:
            self._stats_lru.move_to_end(key)
            return self._stats_lru[key]
        self.stats_lru_misses += 1
        import numpy as np
        import pyarrow.dataset as pads

        kf = (pads.field("field") == key[0]) & (
            pads.field("term") == key[1])
        tbl = self._pa_dataset("postings").to_table(
            columns=["block_id", "max_tf", "min_dl"], filter=kf)
        raw = tbl.num_rows
        if raw > self._BLOCKMAX_MAX_STAT_ROWS:
            res = None
        else:
            bids, inv = np.unique(tbl.column("block_id").to_numpy(),
                                  return_inverse=True)
            ub_tf = np.zeros(len(bids), dtype=np.int64)
            np.add.at(ub_tf, inv, tbl.column("max_tf").to_numpy())
            ub_dl = np.full(len(bids), np.iinfo(np.int64).max,
                            dtype=np.int64)
            np.minimum.at(ub_dl, inv, tbl.column("min_dl").to_numpy())
            res = (bids, ub_tf, ub_dl, raw)
        n = 0 if res is None else len(res[0])
        if n <= self._STATS_LRU_MAX_BLOCKS:
            self._stats_lru[key] = res
            self._stats_lru_blocks += n
            while self._stats_lru_blocks > self._STATS_LRU_MAX_BLOCKS:
                _, ev = self._stats_lru.popitem(last=False)
                if ev is not None:
                    self._stats_lru_blocks -= len(ev[0])
        return res

    def _driver_single_term_blockmax(
            self, key: tuple[str, str], df: int, k: int,
            skip: int) -> "list[tuple[int, float]] | None":
        import numpy as np

        from resin_spark.build import BLOCK_SHIFT
        from resin_spark.postings import decode_counts, decode_doc_ids

        f, tok = key
        if self._pa_dataset("postings") is None:
            return None  # stats-only read needs the embedded dataset
        st = self.stats().get(f)
        if st is None or not st["n_docs"]:
            return []
        import pyarrow.dataset as pads

        self._evict_persisted()
        term_f = (pads.field("field") == f) & (pads.field("term") == tok)
        got = self._block_stats(key)
        if got is None:
            return None
        bids, ub_tf, ub_dl, _raw = got
        if not len(bids):
            return []
        idf = self.idf(st["n_docs"], df)
        avgdl = st["avgdl"]
        one_minus_b = 1.0 - BB
        # EXACT score op tree of _score_mask_classes, fed the bound inputs
        ub = idf * (ub_tf / (ub_tf + K1 * (one_minus_b
                                           + BB * ub_dl / avgdl)))
        order = np.lexsort((bids, -ub))
        need = skip + k
        cand_ids = np.empty(0, dtype=np.int64)
        cand_scores = np.empty(0, dtype=np.float64)
        full_chunks: list[tuple] = []  # decoded (uid, tf, dl) per chunk
        decoded = 0
        scanned_blocks = 0
        pos = 0
        chunk_n = self._BLOCKMAX_CHUNK_START
        while pos < len(order):
            chunk = order[pos:pos + chunk_n]
            pos += len(chunk)
            chunk_n = min(chunk_n * 2, self._BLOCKMAX_CHUNK_MAX)
            scanned_blocks += len(chunk)
            chunk_bids = [int(bids[c]) for c in chunk]
            rows = self._pa_postings_rows(
                term_f & pads.field("block_id").isin(chunk_bids),
                ("df_block", "doc_ids_bin", "tfs_bin", "dls_bin"))
            if rows is None:
                return None
            decoded += sum(r["df_block"] for r in rows)
            if rows:
                ids = np.concatenate(
                    [decode_doc_ids(bytes(r["doc_ids_bin"])) for r in rows])
                tfs = np.concatenate(
                    [decode_counts(bytes(r["tfs_bin"])) for r in rows])
                dls = np.concatenate(
                    [decode_counts(bytes(r["dls_bin"])) for r in rows])
                uid, inv = np.unique(ids, return_inverse=True)
                tf = np.zeros(len(uid), dtype=np.int64)
                np.add.at(tf, inv, tfs)
                dl = np.zeros(len(uid), dtype=np.int64)
                np.maximum.at(dl, inv, dls)
                w = idf * (tf / (tf + K1 * (one_minus_b
                                            + BB * dl / avgdl)))
                cand_ids = np.concatenate([cand_ids, uid])
                cand_scores = np.concatenate([cand_scores, w])
                full_chunks.append((uid, tf, dl))
            if len(cand_ids) >= need:
                top = np.lexsort((cand_ids, -cand_scores))[:need]
                cand_ids, cand_scores = cand_ids[top], cand_scores[top]
                kth_score = float(cand_scores[-1])
                kth_doc = int(cand_ids[-1])
                if pos >= len(order):
                    break
                nxt = order[pos]
                nxt_ub = float(ub[nxt])
                if nxt_ub < kth_score:
                    break
                if (nxt_ub == kth_score
                        and int(bids[nxt]) > (kth_doc >> BLOCK_SHIFT)):
                    # equal-bound blocks arrive in block_id order; all
                    # remaining equal-bound docs have doc_id past the
                    # k-th hit, and lower-bound blocks can't tie at all
                    break
            if decoded > self._BLOCKMAX_DECODE_MAX:
                return None  # degenerate bounds: no early termination
            if scanned_blocks >= self._BLOCKMAX_BULK_AFTER:
                # the bounds aren't pruning — each chunk fetch re-scans
                # the dataset, so stop doubling and take the rest in
                # slab-sized fetches (one or two more scans instead of
                # log2 more); the stop test and decode bail still apply
                chunk_n = self._BLOCKMAX_BULK_SLAB
        if scanned_blocks == len(order):
            # every block decoded — a FULL decode, so the merged arrays
            # are exactly what the standard path would have produced and
            # may enter the term LRU (partial decodes never do); blocks
            # partition the doc space, so cross-chunk docs are disjoint
            # and a sort completes the merge.  The repeat query then
            # takes the lru_warm fast path instead of re-reading blocks.
            uid = np.concatenate([c[0] for c in full_chunks]) \
                if full_chunks else np.empty(0, dtype=np.int64)
            srt = np.argsort(uid, kind="stable")
            self._lru_put(key, (
                uid[srt],
                np.concatenate([c[1] for c in full_chunks])[srt]
                if full_chunks else np.empty(0, dtype=np.int64),
                np.concatenate([c[2] for c in full_chunks])[srt]
                if full_chunks else np.empty(0, dtype=np.int64),
            ))
        self.last_blockmax_stats = {
            "blocks_total": int(len(bids)),
            "blocks_scored": int(scanned_blocks),
            "postings_decoded": int(decoded),
        }
        top = np.lexsort((cand_ids, -cand_scores))[skip:need]
        return [(int(cand_ids[t]), float(cand_scores[t])) for t in top]

    def _driver_flat_blockmax(
            self, matched: list, dfm: dict, k: int, skip: int,
            mode: str = "or",
            negs: "list[tuple[str, str]] | None" = None,
    ) -> "list[tuple[int, float]] | None":
        """Flat-OR / flat-AND top-k with block-max early termination
        (the 100 TB multi-term paths).

        OR: Resin's OR merge is order-sensitive (Reducer.cs:86-149) —
        docs enter the result ONLY from the first matched term; later OR
        terms boost scores of docs already present.  The candidate set
        is therefore the ANCHOR term's postings.  AND: the candidate
        set is the intersection, which lives only in blocks containing
        EVERY matched term.  In both modes, because a posting block is a
        doc_id RANGE (block_id = doc_id >> BLOCK_SHIFT, build.py) every
        term's contribution to a candidate lives in the SAME block —
        decoding a candidate block with all terms restricted to its
        block_id yields each doc's EXACT final score, so Block-Max WAND
        degenerates to ordered block decode with no pivot bookkeeping,
        exactly like the single-term path.

        Exactness of the bound: the scorer folds per-term weights
        left-associatively in matched-term order, skipping terms a doc
        lacks (_score_mask_classes S[mask] order, a subsequence of term
        order).  The block bound is the SAME float64 fold fed per-term
        (max_tf, min_dl) bound weights: IEEE rounding is monotone, so a
        fold of bounds >= a fold of true weights in the same order, and
        skipping a (non-negative) term only lowers the doc's fold.
        Termination + tie rules are _driver_single_term_blockmax's:
        stop when the k-th hit beats every unread bound; equal bounds
        terminate once the next block's doc range lies past the k-th
        doc_id (block decode order is bound desc, block_id asc).

        AND additionally inherits the Reducer empty-accumulator quirk
        guard of _driver_and_hits: a NONEMPTY candidate set proves every
        fold prefix was nonempty (prefixes contain the final
        intersection), so the full-mask class is the only output class;
        if NO candidate survives, this returns None and the distributed
        fold decides (an emptied prefix would re-insert the next term's
        postings there).

        ``negs`` (a simple flat NOT clause's keys) subtracts the UNION
        of those terms' postings from the candidates BEFORE they enter
        the top-k — exact because NOT is the last fold step
        (Reducer.cs:72-83), removal contributes no score, and removing
        docs can only shrink the candidate set (the k-th-hit stop rule
        stays a true certificate).  Negative postings decode ONLY
        within candidate blocks, so at 10^12 turns "rare NOT stopword"
        reads the stopword's postings for the rare term's few blocks,
        never its full list.

        At 10^12 turns an OR anchored on a rare term reads only the
        anchor's conv blocks (the OR twin of the AND block pruning
        below); an OR or AND of stopwords reads O(k) bound-competitive
        blocks instead of every term's full postings — the hot-AND case
        the seed-capped pruned path refuses."""
        import numpy as np

        from resin_spark.build import BLOCK_SHIFT
        from resin_spark.postings import decode_counts, decode_doc_ids

        if self._pa_dataset("postings") is None:
            return None
        import pyarrow.dataset as pads

        keys = [(t.field, t.token) for t in matched]
        anchor = keys[0]
        stats = self.stats()
        idf_of, avgdl_of = {}, {}
        for key in set(keys):
            st = stats.get(key[0])
            if st is None or not st["n_docs"]:
                return None  # df > 0 but no field stats: inconsistent
            idf_of[key] = self.idf(st["n_docs"], dfm[key])
            avgdl_of[key] = st["avgdl"]
        self._evict_persisted()
        by_field: dict[str, set] = {}
        for f, tok in keys:
            by_field.setdefault(f, set()).add(tok)
        term_f = self._pa_filter_terms(by_field)
        # negative keys: unmatched terms are skipped (Reducer.cs:88-89);
        # matched ones decode per-chunk, restricted to candidate blocks
        negs = [kk for kk in (negs or []) if dfm.get(kk, 0) > 0]
        neg_f = None
        if negs:
            neg_by_field: dict[str, set] = {}
            for f, tok in negs:
                neg_by_field.setdefault(f, set()).add(tok)
            neg_f = self._pa_filter_terms(neg_by_field)
            if neg_f is None:
                return None
        all_f = term_f if neg_f is None else (term_f | neg_f)
        pos_keys = set(keys)
        neg_keys = set(negs)
        # per-key per-block bound inputs (merged over segment rows: tf
        # sums, dl mins — same merge as the single-term path); one
        # pushed stats read per key (LRU-cached, _block_stats) keeps the
        # columns numeric (no 8M-row string materialization)
        one_minus_b = 1.0 - BB
        per_key: dict[tuple, tuple] = {}
        stat_rows = 0
        for key in set(keys):
            got = self._block_stats(key)
            if got is None:
                return None
            bids_k, ub_tf, ub_dl, raw = got
            stat_rows += raw
            if stat_rows > self._BLOCKMAX_MAX_STAT_ROWS:
                return None
            w = idf_of[key] * (ub_tf / (ub_tf + K1 * (
                one_minus_b + BB * ub_dl / avgdl_of[key])))
            per_key[key] = (bids_k, w)
        if mode == "and":
            # candidate blocks: intersection — a block missing any
            # matched term can't produce a conjunctive match
            bids = per_key[anchor][0]
            for key in set(keys[1:]):
                bids = bids[np.isin(bids, per_key[key][0],
                                    assume_unique=True)]
            if not len(bids):
                return None  # empty => Reducer quirk territory
        else:
            bids = per_key[anchor][0]
            if not len(bids):
                return []
        # bound = the scorer's left-assoc fold in matched-term order over
        # per-term block bounds, skipping blocks a term lacks
        anchor_j = np.searchsorted(per_key[anchor][0], bids)
        bound = per_key[anchor][1][anchor_j].copy()
        for key in keys[1:]:
            kb, kw = per_key[key]
            if not len(kb):
                continue
            j = np.searchsorted(kb, bids)
            ok = (j < len(kb)) & (kb[np.minimum(j, len(kb) - 1)] == bids)
            bound[ok] = bound[ok] + kw[j[ok]]
        order = np.lexsort((bids, -bound))
        need = skip + k
        cand_ids = np.empty(0, dtype=np.int64)
        cand_scores = np.empty(0, dtype=np.float64)
        decoded = 0
        scanned_blocks = 0
        pos_any = False
        pos = 0
        chunk_n = self._BLOCKMAX_CHUNK_START
        cols = ("field", "term", "df_block", "doc_ids_bin", "tfs_bin",
                "dls_bin")
        full_by_key: dict[tuple, list] = {}  # per-key decoded chunks
        while pos < len(order):
            chunk = order[pos:pos + chunk_n]
            pos += len(chunk)
            chunk_n = min(chunk_n * 2, self._BLOCKMAX_CHUNK_MAX)
            scanned_blocks += len(chunk)
            chunk_bids = [int(bids[c]) for c in chunk]
            # ONE pushed scan per chunk covers positive AND negative
            # keys (the filter is the union; rows split by key below) —
            # a NOT clause must not double the per-chunk scan count
            rows = self._pa_postings_rows(
                all_f & pads.field("block_id").isin(chunk_bids), cols)
            if rows is None:
                return None
            decoded += sum(r["df_block"] for r in rows
                           if (r["field"], r["term"]) in pos_keys)
            neg_union = None
            if neg_keys:
                nrows = [r for r in rows
                         if (r["field"], r["term"]) in neg_keys]
                decoded += sum(r["df_block"] for r in nrows)
                if nrows:
                    neg_union = np.unique(np.concatenate(
                        [decode_doc_ids(bytes(r["doc_ids_bin"]))
                         for r in nrows]))
            bufs: dict[tuple, list] = {}
            for r in rows:
                if (r["field"], r["term"]) in pos_keys:
                    bufs.setdefault((r["field"], r["term"]), []).append(r)
            dec: dict[tuple, tuple] = {}
            for key, blist in bufs.items():
                ids = np.concatenate(
                    [decode_doc_ids(bytes(r["doc_ids_bin"]))
                     for r in blist])
                tfs = np.concatenate(
                    [decode_counts(bytes(r["tfs_bin"])) for r in blist])
                dls = np.concatenate(
                    [decode_counts(bytes(r["dls_bin"])) for r in blist])
                uid, inv = np.unique(ids, return_inverse=True)
                tf = np.zeros(len(uid), dtype=np.int64)
                np.add.at(tf, inv, tfs)
                dl = np.zeros(len(uid), dtype=np.int64)
                np.maximum.at(dl, inv, dls)
                w = idf_of[key] * (tf / (tf + K1 * (
                    one_minus_b + BB * dl / avgdl_of[key])))
                dec[key] = (uid, w)
                full_by_key.setdefault(key, []).append((uid, tf, dl))
            if anchor in dec:
                uid_a = dec[anchor][0]
                if mode == "and":
                    # chunk candidates: docs present in EVERY key
                    for key in set(keys[1:]):
                        got = dec.get(key)
                        if got is None:
                            uid_a = uid_a[:0]
                            break
                        uid_a = uid_a[np.isin(uid_a, got[0],
                                              assume_unique=True)]
                if len(uid_a):
                    # pre-NOT: a nonempty positive candidate set proves
                    # every AND fold prefix was nonempty (see below)
                    pos_any = True
                if neg_union is not None and len(uid_a):
                    uid_a = uid_a[~np.isin(uid_a, neg_union,
                                           assume_unique=True)]
                if len(uid_a):
                    j0 = np.searchsorted(dec[anchor][0], uid_a)
                    score = dec[anchor][1][j0].copy()
                    for key in keys[1:]:
                        got = dec.get(key)
                        if got is None:
                            continue
                        uid_t, w_t = got
                        j = np.searchsorted(uid_t, uid_a)
                        ok = (j < len(uid_t)) & (
                            uid_t[np.minimum(j, len(uid_t) - 1)] == uid_a)
                        score[ok] = score[ok] + w_t[j[ok]]
                    cand_ids = np.concatenate([cand_ids, uid_a])
                    cand_scores = np.concatenate([cand_scores, score])
            if len(cand_ids) >= need:
                top = np.lexsort((cand_ids, -cand_scores))[:need]
                cand_ids, cand_scores = cand_ids[top], cand_scores[top]
                kth_score = float(cand_scores[-1])
                kth_doc = int(cand_ids[-1])
                if pos >= len(order):
                    break
                nxt = order[pos]
                nxt_ub = float(bound[nxt])
                if nxt_ub < kth_score:
                    break
                if (nxt_ub == kth_score
                        and int(bids[nxt]) > (kth_doc >> BLOCK_SHIFT)):
                    break
            if decoded > self._BLOCKMAX_DECODE_MAX:
                return None  # degenerate bounds: no early termination
            if scanned_blocks >= self._BLOCKMAX_BULK_AFTER:
                # no pruning — slab fetches instead of doubled chunks
                # (see the single-term path)
                chunk_n = self._BLOCKMAX_BULK_SLAB
        if mode == "and" and not len(cand_ids) and not pos_any:
            # empty POSITIVE intersection: a fold prefix may have been
            # empty, and an empty accumulator re-inserts the next term's
            # postings (Reducer.cs:24-39) — the distributed fold decides.
            # pos_any (a nonempty pre-NOT candidate set somewhere) proves
            # every prefix was nonempty, so if NOT then emptied it the
            # true result IS empty and falls through to the final take
            return None
        if scanned_blocks == len(order):
            # every candidate block decoded: any key whose OWN block set
            # lies inside the candidate set got a FULL decode (see the
            # single-term path) — cache those in the term LRU so the
            # repeat query can take the lru_warm fast path.  Keys with
            # blocks outside the candidate set (an OR boost term wider
            # than its anchor, an AND term wider than the intersection)
            # stay uncached: partial decodes never enter the LRU.
            for key, chunks in full_by_key.items():
                kb = per_key[key][0]
                if len(kb) and np.isin(kb, bids,
                                       assume_unique=True).all():
                    uid_f = np.concatenate([c[0] for c in chunks])
                    srt = np.argsort(uid_f, kind="stable")
                    self._lru_put(key, (
                        uid_f[srt],
                        np.concatenate([c[1] for c in chunks])[srt],
                        np.concatenate([c[2] for c in chunks])[srt],
                    ))
        self.last_blockmax_stats = {
            "blocks_total": int(len(bids)),
            "blocks_scored": int(scanned_blocks),
            "postings_decoded": int(decoded),
        }
        top = np.lexsort((cand_ids, -cand_scores))[skip:need]
        return [(int(cand_ids[t]), float(cand_scores[t])) for t in top]

    # AND-driven block pruning (the 100 TB intersection path): for a
    # pure-AND query whose RAREST matched term is driver-sized, the
    # result set lives inside that term's conv blocks — so the bigger
    # terms scan with a pushed-down ``block_id IN (...)`` predicate
    # (block_id is a physical postings column, build.py) and only the
    # intersecting blocks cross the wire.  At 10^12 turns an AND of a
    # rare term against a stopword-class term stops being a full scan of
    # the stopword's postings: bytes read ∝ the rare term's block
    # footprint.  This is the posting-list skip-intersection of classic
    # IR engines (and of WAND's block skips, wand.py) expressed as
    # Parquet predicate pushdown.  Caps: seed term <= _AND_SEED_MAX
    # postings, <= _AND_BLOCK_IN_MAX candidate blocks (IN-list size),
    # and a post-collect bail if a pruned scan still returned more than
    # _AND_COLLECT_MAX postings (correct either way — it just falls back
    # to the distributed fold).
    _AND_SEED_MAX_POSTINGS = 500_000
    _AND_BLOCK_IN_MAX = 8192
    _AND_COLLECT_MAX_POSTINGS = 4_000_000
    # serve block-restricted collects from the term LRU (see
    # _collect_key_postings).  Forced-route test fixtures set this False
    # so the and_pruned strategy keeps exercising the restricted read
    # even on a warm shared engine.
    _AND_LRU_SERVE = True

    @staticmethod
    def _flat_not(nq: Query) -> bool:
        """A clause-only NOT node (op 'not', no sub-clauses): the shape
        whose terms form one subtractable postings union."""
        return (nq.op == "not" and nq.and_q is None and nq.or_q is None
                and nq.not_q is None)

    def _pure_and(self, q: Query) -> bool:
        if q.op != "and" or q.or_q is not None or q.not_q is not None:
            return False
        if any(t.op != "and" for t in q.terms):
            return False
        return q.and_q is None or self._pure_and(q.and_q)

    def _collect_key_postings(self, key: tuple[str, str],
                              blocks: "list[int] | None",
                              total_df: int | None = None):
        """Collected + decoded (sorted-unique doc_ids, tf, dl) arrays of
        one (field, term) key, optionally restricted to candidate blocks
        (pushed predicate).  None when the collect exceeds the driver
        cap (caller falls back to the distributed fold).

        The term LRU serves RESTRICTED requests too: the cached full-term
        arrays are a superset of any block-restricted read, and a superset
        is fold-identical — the caller's intersection prunes against it,
        and _score_mask_classes' searchsorted lands on the same rows.  So
        a warm repeat of an over-cap AND (the q_multifield bench shape:
        hot dimension term × mid-df seed) skips the dominant re-read +
        re-decode entirely.  Any cached entry is within the LRU's own
        4M-posting bound == _AND_COLLECT_MAX_POSTINGS, so the cap check
        is not bypassed."""
        import numpy as np

        from resin_spark.postings import decode_counts, decode_doc_ids

        f, tok = key
        got = (self._lru_get(key)
               if blocks is None or self._AND_LRU_SERVE else None)
        if got is not None:
            # NOTE: on an lru_hit, postings_collected is the CACHED
            # full-term unique-doc count (nothing was read), not what a
            # restricted read would have collected — pruning diagnostics
            # are only meaningful on rows without the lru_hit flag
            self.last_and_stats[key] = {
                "blocks_filter": None if blocks is None else len(blocks),
                "postings_collected": int(len(got[0])),
                "lru_hit": True,
            }
            return got
        cols = ("df_block", "doc_ids_bin", "tfs_bin", "dls_bin")
        rows = None
        if self._pa_dataset("postings") is not None:
            import pyarrow.dataset as pads

            pa_f = (pads.field("field") == f) & (pads.field("term") == tok)
            if blocks is not None:
                pa_f = pa_f & pads.field("block_id").isin(blocks)
            rows = self._pa_postings_rows(pa_f, cols)
        if rows is None:
            pred = (F.col("field") == f) & (F.col("term") == tok)
            if blocks is not None:
                pred = pred & F.col("block_id").isin(blocks)
            rows = self.postings().filter(pred).select(*cols).collect()
        n_postings = sum(r["df_block"] for r in rows)
        self.last_and_stats[key] = {
            "blocks_filter": None if blocks is None else len(blocks),
            "postings_collected": int(n_postings),
        }
        if n_postings > self._AND_COLLECT_MAX_POSTINGS:
            return None
        if not rows:
            e = np.empty(0, dtype=np.int64)
            return e, e, e
        ids = np.concatenate([decode_doc_ids(bytes(r["doc_ids_bin"])) for r in rows])
        tfs = np.concatenate([decode_counts(bytes(r["tfs_bin"])) for r in rows])
        dls = np.concatenate([decode_counts(bytes(r["dls_bin"])) for r in rows])
        uid, inv = np.unique(ids, return_inverse=True)
        tf = np.zeros(len(uid), dtype=np.int64)
        np.add.at(tf, inv, tfs)
        dl = np.zeros(len(uid), dtype=np.int64)
        np.maximum.at(dl, inv, dls)
        if blocks is None or (total_df is not None
                              and n_postings == total_df):
            # full-term reads are cacheable — including a RESTRICTED read
            # that returned the term's entire df (the candidate blocks
            # covered every posting: n_postings and the mirror's df are
            # the same Σ df_block quantity, so equality is exact).  A
            # genuinely partial collect stays uncached: it is specific to
            # one query's intersection.
            self._lru_put(key, (uid, tf, dl))
        return uid, tf, dl

    def _driver_and_hits(self, q: Query, keys: list, idx: dict,
                         df_by_key: list, k: int,
                         skip: int) -> "list[tuple[int, float]] | None":
        """Driver-scored pure-AND with block-pruned scans: keys collect in
        ascending-df order; after each, the intersection's block set
        prunes the next key's scan.  Scores run through the SAME mask
        fold + float64 op tree as every other strategy.  Output classes:
        a NONEMPTY final intersection proves the fold never hit the
        empty-accumulator re-insert quirk, so the full-mask class is the
        only output class; an emptied intersection falls back to the
        distributed fold (see inline note)."""
        import numpy as np

        from resin_spark import build as B

        if not self._pure_and(q):
            return None
        present = [i for i, d in enumerate(df_by_key) if d > 0]
        if not present:
            return []
        order = sorted(present, key=lambda i: (df_by_key[i], i))
        if df_by_key[order[0]] > self._AND_SEED_MAX_POSTINGS:
            return None
        self._evict_persisted()
        # pruning observability: per-key {blocks_filter, postings_collected}
        # vs the mirror df — read after a query to see what the block
        # restriction saved (the skip-intersection analog of
        # neardup_bucket_stats)
        self.last_and_stats = {}
        arrs: dict[int, tuple] = {}
        inter = None
        blocks: list[int] | None = None
        for pos, i in enumerate(order):
            got = self._collect_key_postings(keys[i], blocks,
                                             total_df=df_by_key[i])
            if got is None:
                return None
            arrs[i] = got
            uid = got[0]
            if pos == 0:
                inter = uid
            elif len(uid) == 0:
                inter = uid
            else:
                # both sides sorted-unique: searchsorted membership beats
                # np.isin (which re-sorts the pair on every step)
                j = np.minimum(np.searchsorted(uid, inter), len(uid) - 1)
                inter = inter[uid[j] == inter]
            if not len(inter):
                # Reducer quirk (Reducer.cs:24-39): a term merged into an
                # EMPTY accumulator re-inserts all its postings, so an
                # emptied intermediate intersection can restart the fold
                # with docs this path never collected.  Conversely, a
                # NONEMPTY final intersection proves every fold-order
                # prefix was nonempty (prefixes contain the final set),
                # i.e. no restart occurred and the full-mask class is the
                # only output class.  Empty here -> distributed fold.
                return None
            if pos + 1 < len(order):
                cand = np.unique(np.right_shift(inter, B.BLOCK_SHIFT))
                if len(cand) > self._AND_BLOCK_IN_MAX:
                    return None
                blocks = [int(b) for b in cand]
        full_mask = 0
        for i in present:
            full_mask |= 1 << i
        empty64 = np.empty(0, dtype=np.int64)
        uid_k = [arrs[i][0] if i in arrs else empty64 for i in range(len(keys))]
        tf_k = [arrs[i][1] if i in arrs else empty64 for i in range(len(keys))]
        dl_k = [arrs[i][2] if i in arrs else empty64 for i in range(len(keys))]
        mask_arr = np.full(len(inter), full_mask, dtype=np.int64)
        observed = {int(full_mask): int(len(inter))}
        return self._score_mask_classes(q, observed, inter, mask_arr,
                                        uid_k, tf_k, dl_k, idx, df_by_key,
                                        k, skip)

    def _score_mask_classes(self, q: Query, observed: dict, uids, mask_arr,
                            uid_k, tf_k, dl_k, idx: dict, df_by_key: list,
                            k: int, skip: int) -> list[tuple[int, float]] | None:
        """Shared driver-side scoring: run the mask fold over the observed
        classes, then per class the BM25 weight sum left-associatively in
        S[mask] order over float64 vectors — the exact op tree of the
        distributed mask fold, just elementwise over the class at once."""
        import numpy as np

        state = self._mask_reduce(q, None, observed, df_by_key, idx,
                                  "surface")
        if state is None or not state[0]:
            return []
        masks, S = state
        stats = self.stats()
        empty = {"n_docs": 0, "avgdl": 1.0}
        idf_of, avgdl_of = {}, {}
        for (f, tok), i in idx.items():
            if not df_by_key[i]:
                continue
            st = stats.get(f, empty)
            idf_of[i] = self.idf(st["n_docs"], df_by_key[i])
            avgdl_of[i] = st["avgdl"] if st["n_docs"] else 1.0
        one_minus_b = 1.0 - BB
        did_parts, score_parts = [], []
        for m in masks:
            if m not in observed:
                continue
            sel = np.flatnonzero(mask_arr == m)
            dids = uids[sel]
            score = None
            for i in S[m]:
                j = np.searchsorted(uid_k[i], dids)
                tf = tf_k[i][j]
                w = idf_of[i] * (
                    tf / (tf + K1 * (one_minus_b
                                     + BB * dl_k[i][j] / avgdl_of[i]))
                )
                score = w if score is None else score + w
            if score is None:
                score = np.zeros(len(dids), dtype=np.float64)
            did_parts.append(dids)
            score_parts.append(score)
        if not did_parts:
            return []
        all_dids = np.concatenate(did_parts)
        all_scores = np.concatenate(score_parts)
        order = np.lexsort((all_dids, -all_scores))
        take = order[skip:skip + k] if k else order[skip:]
        return [(int(all_dids[t]), float(all_scores[t])) for t in take]

    # targeted point reads engage only when every docs row group is at
    # most this many rows (the bounded-row-group layout build_index now
    # writes); legacy 128 MB-group layouts keep the dataset scanner.
    _POINT_RG_MAX_ROWS = 131_072

    def _docs_rg_index(self):
        """Row-group directory of the docs dataset for targeted point
        reads: (mins, cum_max, entries) where entries are (min_doc_id,
        max_doc_id, file_path, group_idx) sorted by min.  Holds PATHS,
        not open handles — a many-file layout must not pin thousands of
        file descriptors for the engine's lifetime; _docs_point_table
        reopens the few covering files per fetch (footer parse ~ms).
        None when any group lacks doc_id stats, is oversized (legacy
        layout), or the dataset is unavailable — callers fall back to
        the dataset scanner.  Cached with the pa-dataset lifecycle:
        refresh() drops it (an append adds files), clear_cache() keeps
        it (IO metadata, not decoded query data — same contract as the
        cached datasets)."""
        cached = self._pa_cache.get("__docs_rg__")
        if cached is not None:
            return None if cached == "n/a" else cached
        import pyarrow.parquet as pq

        ds = self._pa_dataset("docs")
        out = "n/a"
        # footer pass is once-per-engine and driver-local; still, bound
        # the file count so a pathological layout cannot stall warmup
        if ds is not None and len(ds.files) <= 4096:
            entries = []
            ok = True
            for f in ds.files:
                try:
                    md = pq.read_metadata(f)
                    ncols = md.num_columns
                    names = [md.schema.column(i).name for i in range(ncols)]
                    ci = names.index("doc_id")
                except Exception:
                    ok = False
                    break
                for g in range(md.num_row_groups):
                    rg = md.row_group(g)
                    if rg.num_rows == 0:
                        continue
                    st = rg.column(ci).statistics
                    if (st is None or not st.has_min_max
                            or rg.num_rows > self._POINT_RG_MAX_ROWS):
                        ok = False
                        break
                    entries.append((int(st.min), int(st.max), f, g))
                if not ok:
                    break
            if ok and entries:
                entries.sort(key=lambda e: (e[0], e[1]))
                mins = [e[0] for e in entries]
                cum, m = [], entries[0][1]
                for e in entries:
                    m = max(m, e[1])
                    cum.append(m)
                out = (mins, cum, entries)
        self._pa_cache["__docs_rg__"] = out
        return None if out == "n/a" else out

    def _docs_point_table(self, need: list[int], names: list[str]):
        """Arrow table of exactly the ``need`` doc rows via per-hit
        row-group binary search (footer stats cached by _docs_rg_index) —
        decode cost is the few covering row groups, never a dataset scan.
        None = not eligible (legacy layout / partition column requested);
        the caller uses the dataset-scanner read instead."""
        import bisect

        import pyarrow as pa
        import pyarrow.compute as pc

        idxobj = self._docs_rg_index()
        if idxobj is None:
            return None
        mins, cum, entries = idxobj
        by_path: dict[str, set[int]] = {}
        for d in need:
            i = bisect.bisect_right(mins, d) - 1
            # interval stabbing: files may interleave doc_id ranges (hash
            # placement of contiguous conv buckets), so walk left over
            # every group whose [min, max] covers d — cum_max bounds the
            # walk; the final is_in filter discards false positives
            while i >= 0 and cum[i] >= d:
                e = entries[i]
                if e[0] <= d <= e[1]:
                    by_path.setdefault(e[2], set()).add(e[3])
                i -= 1
        if not by_path:
            return None
        import pyarrow.parquet as pq

        try:
            parts = []
            for path, gs in by_path.items():
                # open per fetch (footer parse is ~ms) and close at once:
                # the index holds PATHS, not handles, so no descriptor
                # outlives the fetch; one read per file covers its groups
                with pq.ParquetFile(path) as pf:
                    part = pf.read_row_groups(sorted(gs), columns=names)
                if any(n not in part.column_names for n in names):
                    # pyarrow silently DROPS unknown names from
                    # ``columns`` — e.g. the hive partition column lives
                    # in the directory, not the file, and a drifted file
                    # could lack a column the unified dataset schema
                    # still lists.  Refuse rather than return a narrower
                    # table.
                    return None
                parts.append(part)
            tbl = parts[0] if len(parts) == 1 else pa.concat_tables(parts)
            return tbl.filter(pc.is_in(
                tbl["doc_id"], value_set=pa.array(need, type=pa.int64())))
        except Exception:
            # schema drift across segments, unreadable file, concat
            # mismatch — the dataset scanner handles all of these (it
            # fills nulls from the unified schema)
            return None

    def _docs_by_id(self, need: list[int], names: list[str]):
        """Arrow table of the ``need`` doc rows: the targeted point read,
        else the dataset scanner (legacy layout, partition column, schema
        drift).  Every embedded docs-by-id read goes through here."""
        tbl = self._docs_point_table(need, names)
        if tbl is None:
            import pyarrow.dataset as pads

            tbl = self._pa_dataset("docs").to_table(
                columns=names, filter=pads.field("doc_id").isin(need))
        return tbl

    def _fetch_hits(self, hits: list[tuple[int, float]],
                    sel: list[str] | None) -> DataFrame:
        """Materialize driver-computed (doc_id, score) hits: pushed-down
        doc_id IN point scan (min/max-pruned on the doc_id-sorted docs
        table — no full scan, no gate: the hits are already collected so
        the point path costs no extra action here)."""
        docs = self.documents()
        if (hits and len(hits) <= self._POINT_FETCH_MAX_K
                and self._pa_dataset("docs") is not None):
            # embedded point fetch: read exactly the hit rows through
            # pyarrow (row-group stats prune on the doc_id filter — the
            # docs files are doc_id-sorted), merge scores driver-side,
            # and hand Spark a k-row local frame.  Zero jobs.  The
            # targeted row-group reader serves bounded-row-group layouts
            # (decode ∝ covering groups); the dataset scanner covers
            # everything else.
            from pyspark.sql.types import DoubleType, StructField, StructType

            cols = self._ranked_cols(docs, sel)
            names = list(dict.fromkeys(["doc_id"] + cols))
            pdf = self._docs_by_id([int(d) for d, _ in hits],
                                   names).to_pandas()
            smap = {int(d): float(s) for d, s in hits}
            pdf["score"] = pdf["doc_id"].map(smap)
            # the final sort runs HERE (stable, same float64 keys and
            # tie-break as the distributed orderBy) so the returned frame
            # is a pre-ordered LocalRelation: collecting it is job-free —
            # a Spark orderBy on 10 local rows would cost 3 scheduling
            # round-trips (sampling + shuffle + collect)
            pdf = pdf.sort_values(
                ["score", "conv_id", "turn_idx"],
                ascending=[False, True, True], kind="mergesort",
            )[cols + ["score"]]
            by_name = {fld.name: fld for fld in docs.schema.fields}
            return self.spark.createDataFrame(
                pdf,
                schema=StructType([by_name[c] for c in cols]
                                  + [StructField("score", DoubleType())]),
            )
        lit = self.spark.createDataFrame(
            [(int(d), float(s)) for d, s in hits],
            "doc_id long, score double",
        )
        if hits and len(hits) <= self._POINT_FETCH_MAX_K:
            docs = docs.filter(
                F.col("doc_id").isin([int(d) for d, _ in hits])
            )
        out = docs.join(F.broadcast(lit), "doc_id")
        return self._project_ranked(out, docs, sel)

    def _docs_bytes(self) -> int:
        """Catalyst's size estimate for the docs table (file-listing
        stats off the cached FileIndex — no job)."""
        if self._docs_size is None:
            plan = self.documents()._jdf.queryExecution().optimizedPlan()
            self._docs_size = int(plan.stats().sizeInBytes())
        return self._docs_size

    def _ranked(self, q: Query, term_identity: str) -> DataFrame:
        """(doc_id, score) after the boolean fold.

        Two physical strategies, identical semantics (the differential
        fuzz suite runs both against the oracle):

        * multi-term queries (the common case) use the MASK FOLD: one
          per-doc aggregation over the decoded postings produces each
          doc's matched-term bitmask + per-term (tf, dl); the entire
          Reducer fold then runs driver-side over the observed mask
          CLASSES (docs with identical term membership behave
          identically), where emptiness decisions are exact set checks —
          no per-merge isEmpty probe jobs, no iterated self-joins.  Two
          jobs touch scored DATA per query (mask histogram + top-k) with
          one shuffle over matched postings; the remaining Spark-side
          actions are metadata/k-row sized (df lookup on the cached term
          directory, broadcast exchange of the top-k frame).
        * single-term queries stream straight through (df off the block
          metadata, no aggregation); pathological shapes (> 63 unique
          keys, > 4096 mask classes) fall back to the iterated-join fold.
        """
        # evict the previous query's persisted postings: a long-lived
        # engine must not accumulate one cached RDD per query (a caller
        # still holding an old result DataFrame just recomputes it)
        self._evict_persisted()
        key_col = self._key_col(term_identity)
        terms = query_terms(q)
        if not terms:
            return self.spark.range(0).select(
                F.col("id").alias("doc_id"), F.lit(0.0).alias("score")
            )
        by_field: dict[str, set[str]] = {}
        for t in terms:
            tok = t.token if term_identity == "surface" else chars_key_py(t.token)
            by_field.setdefault(t.field, set()).add(tok)
        keys = sorted((f, tok) for f, toks in by_field.items() for tok in toks)
        if 1 < len(keys) <= self._MASK_MAX_KEYS:
            out = self._ranked_mask(q, by_field, keys, term_identity)
            if out is not None:
                return out

        # map phase: pushed-down postings scan of exactly the queried terms
        pred = _functools_reduce(
            lambda a, b: a | b,
            [
                (F.col("field") == f) & F.col(key_col).isin(sorted(toks))
                for f, toks in by_field.items()
            ],
        )
        matched = self.postings().filter(pred)
        decoded = B.decoded_postings(
            matched.select("field", key_col, "segment",
                           "doc_ids_bin", "tfs_bin", "dls_bin")
            .withColumnRenamed(key_col, "term")
        )
        if term_identity == "charbag":
            # anagrams collide into one term node: occurrences merge
            # (Resin MergeDocIds, GraphBuilder.cs:243-266)
            decoded = decoded.groupBy("field", "term", "doc_id").agg(
                F.sum("tf").alias("tf"), F.max("dl").alias("dl")
            )
        n_terms_total = sum(len(toks) for toks in by_field.values())
        if n_terms_total > 1:
            # the boolean fold references the scored frame once per term —
            # persist so blocks decode once.  Single-term queries stream
            # straight through (no cache churn).
            decoded = decoded.persist()
            self._cached.append(decoded)
        scored_base = decoded

        # df per (field, term-key): distinct docs per term.  Surface mode
        # reads it off the df_block METADATA (each doc lives in exactly
        # one (segment, block), so Σ df_block = df) — no posting decode.
        # Charbag mode must merge anagram postings first, so it counts on
        # the decoded frame.
        if term_identity == "surface":
            df_map = self._surface_df_map(by_field, pred)
        else:
            df_rows = (
                scored_base.groupBy("field", "term")
                .agg(F.count(F.lit(1)).alias("df"))
                .collect()
            )
            df_map = {(r["field"], r["term"]): r["df"] for r in df_rows}
        stats = self.stats()

        # one scoring expression; idf/avgdl folded in as literals with the
        # same float64 op tree as the oracle (reference.py weight())
        # fields that were never indexed have no stats row and can match
        # no postings — they contribute nothing to the score expression
        empty = {"n_docs": 0, "avgdl": 1.0}
        idf_expr = F.lit(0.0)
        for (f, tkey), dfv in df_map.items():
            idf_expr = F.when(
                (F.col("field") == f) & (F.col("term") == tkey),
                F.lit(self.idf(stats.get(f, empty)["n_docs"], dfv)),
            ).otherwise(idf_expr)
        avgdl_expr = F.lit(1.0)
        for f in by_field:
            if f in stats:
                avgdl_expr = F.when(
                    F.col("field") == f, F.lit(stats[f]["avgdl"])
                ).otherwise(avgdl_expr)
        tf_d = F.col("tf").cast("double")
        dl_d = F.col("dl").cast("double")
        denom = tf_d + F.lit(K1) * (F.lit(1.0 - BB) + F.lit(BB) * dl_d / avgdl_expr)
        scored = scored_base.withColumn("score", idf_expr * (tf_d / denom))

        result, _ = self._reduce_query(q, (None, False), scored, df_map, term_identity)
        if result is None:
            return self.spark.range(0).select(
                F.col("id").alias("doc_id"), F.lit(0.0).alias("score")
            )
        return result

    # ---------------------------------------------------- mask-fold path
    def _ranked_mask(self, q: Query, by_field: dict, keys: list,
                     term_identity: str) -> DataFrame | None:
        """One-aggregation boolean fold (see _ranked docstring).  Returns
        None to signal fallback to the iterated-join fold (mask-class
        explosion)."""
        key_col = self._key_col(term_identity)
        idx = {k: i for i, k in enumerate(keys)}
        pred = _functools_reduce(
            lambda a, b: a | b,
            [
                (F.col("field") == f) & F.col(key_col).isin(sorted(toks))
                for f, toks in by_field.items()
            ],
        )
        matched = self.postings().filter(pred)
        decoded = B.decoded_postings(
            matched.select("field", key_col, "segment",
                           "doc_ids_bin", "tfs_bin", "dls_bin")
            .withColumnRenamed(key_col, "term")
        )

        # per-doc aggregation: matched-key bitmask + per-key (tf, dl).
        # sum(tf) doubles as the charbag anagram merge (surface mode has
        # one row per (doc, key) so sum == the value).
        def cond(i: int):
            f, tok = keys[i]
            return (F.col("field") == f) & (F.col("term") == tok)

        aggs = []
        for i in range(len(keys)):
            aggs.append(F.sum(F.when(cond(i), F.col("tf"))).alias(f"tf{i}"))
            aggs.append(F.max(F.when(cond(i), F.col("dl"))).alias(f"dl{i}"))
            aggs.append(
                F.max(F.when(cond(i), F.lit(1 << i)).otherwise(F.lit(0)))
                .cast("long").alias(f"m{i}")
            )
        per_doc = decoded.groupBy("doc_id").agg(*aggs).withColumn(
            "mask",
            _functools_reduce(lambda a, b: a + b,
                              [F.col(f"m{i}") for i in range(len(keys))]),
        )

        df_by_key = None
        if term_identity == "surface":
            # df off the term directory (driver mirror when it fits, else
            # the persisted distributed frame — never a parquet re-scan)
            df_map = self._surface_df_map(by_field, pred)
            df_by_key = [df_map.get(k, 0) for k in keys]

        if (df_by_key is not None and len(keys) <= 12
                and self._fold_is_static(q, df_by_key, idx, term_identity)):
            # STATIC fold (no and/or merge ever lands on a result whose
            # emptiness is data-dependent — covers 2-term ANDs, pure ORs,
            # NOT-subtraction chains): enumerate the full mask space, no
            # histogram job.  Query = df-metadata job + top-k job, same
            # job count as a single-term query.
            observed = dict.fromkeys(range(1, 1 << len(keys)))
        else:
            per_doc = per_doc.persist()
            self._cached.append(per_doc)
            # one tiny job: the mask histogram materializes the persisted
            # agg and yields the observed classes the fold runs over (and
            # per-key df for charbag mode, where metadata df would count
            # pre-merge anagram postings)
            hist = per_doc.groupBy("mask").agg(
                F.count(F.lit(1)).alias("n")).collect()
            observed = {r["mask"]: r["n"] for r in hist}
            if df_by_key is None:
                df_by_key = [
                    sum(n for m, n in observed.items() if (m >> i) & 1)
                    for i in range(len(keys))
                ]

        state = self._mask_reduce(q, None, observed, df_by_key, idx,
                                  term_identity)
        if state is None or not state[0]:
            return self.spark.range(0).select(
                F.col("id").alias("doc_id"), F.lit(0.0).alias("score")
            )
        masks, S = state
        if len(masks) > self._MASK_MAX_CLASSES:
            return None  # pathological; iterated-join fold handles it

        stats = self.stats()
        empty = {"n_docs": 0, "avgdl": 1.0}
        w = {}
        for (f, tok), i in idx.items():
            if not df_by_key[i]:
                continue
            st = stats.get(f, empty)
            idf = self.idf(st["n_docs"], df_by_key[i])
            avgdl = st["avgdl"] if st["n_docs"] else 1.0
            tf_d = F.col(f"tf{i}").cast("double")
            dl_d = F.col(f"dl{i}").cast("double")
            denom = tf_d + F.lit(K1) * (
                F.lit(1.0 - BB) + F.lit(BB) * dl_d / F.lit(avgdl)
            )
            w[i] = F.lit(idf) * (tf_d / denom)

        # score per mask class = the fold's addition sequence, left-assoc
        # (same float64 op order as the oracle / join fold)
        pairs = []
        for m in sorted(masks):
            terms_sum = _functools_reduce(
                lambda a, b: a + b, [w[i] for i in S[m]]
            ) if S[m] else F.lit(0.0)
            pairs.append((int(m), terms_sum))
        if len(pairs) <= self._MASK_WHEN_CHAIN_MAX:
            score = F.lit(0.0)
            for m, ts in pairs:
                score = F.when(F.col("mask") == m, ts).otherwise(score)
        else:
            # many classes (the static fold enumerates the FULL mask
            # space — up to 4095 for 12 keys): a nested when-chain of
            # that depth overflows the JVM analyzer stack
            # (StackOverflowError in Catalyst's recursive tree walk), so
            # build one FLAT map literal instead — same per-class float64
            # expressions as map values, depth 1.  The isin filter below
            # guarantees every surviving row's mask has a map entry.
            args: list = []
            for m, ts in pairs:
                args.append(F.lit(m).cast("long"))
                args.append(ts.cast("double"))
            score = F.element_at(F.create_map(*args),
                                 F.col("mask").cast("long"))
        return (
            per_doc.filter(F.col("mask").isin([int(m) for m in masks]))
            .select("doc_id", score.alias("score"))
        )

    def _fold_is_static(self, q: Query, df_by_key: list, idx: dict,
                        term_identity: str) -> bool:
        """True when the fold's branch choices never depend on whether an
        intermediate RESULT happens to be empty on this data — i.e. no
        and/or merge lands on a state whose emptiness is data-dependent.
        Mirrors _mask_reduce over an emptiness lattice:
        N(onempty)/E(mpty)/U(nknown).  A static fold can be enumerated
        over the full mask space with no histogram job."""
        ok = True

        def merge(sym, sym_in, op):
            nonlocal ok
            if sym is None or sym == "E":
                return sym if op == "not" else sym_in
            if sym == "U" and op in ("and", "or"):
                ok = False  # insert-all-vs-merge branch is data-dependent
            if op == "and":
                return "E" if sym_in == "E" else "U"
            if op == "or":
                return sym
            return "U"  # not-merge may empty the result (but same branch)

        def reduce_q(q: Query, sym):
            qs = None
            matched_any = False
            for t in q.terms:
                tkey = (t.token if term_identity == "surface"
                        else chars_key_py(t.token))
                i = idx.get((t.field, tkey))
                if i is None or df_by_key[i] == 0:
                    continue
                matched_any = True
                qs = "N" if q.op == "not" else merge(qs, "N", t.op)
            if matched_any:
                sym = merge(sym, qs, q.op)
            elif q.op == "and" and sym is not None:
                sym = "E"
            for child in (q.and_q, q.or_q, q.not_q):
                if child is not None:
                    sym = reduce_q(child, sym)
            return sym

        reduce_q(q, None)
        return ok

    def _mask_merge(self, state, incoming, op: str):
        """Reducer.cs:86-149 over mask classes (exact twin of _merge with
        DataFrames replaced by (masks, S) where S[m] is the ordered tuple
        of term-instance key indices whose weights sum into the score)."""
        if state is None or not state[0]:
            if op == "not":
                return state
            return incoming
        masks, S = state
        imasks, iS = incoming
        if op == "and":
            keep = masks & imasks
            return (keep, {m: S[m] + iS[m] for m in keep})
        if op == "or":
            return (
                masks,
                {m: S[m] + iS[m] if m in imasks else S[m] for m in masks},
            )
        keep = masks - imasks
        return (keep, {m: S[m] for m in keep})

    def _mask_reduce(self, q: Query, state, observed: dict, df_by_key: list,
                     idx: dict, term_identity: str):
        """_reduce_query over mask classes — identical structure."""
        query_state = None
        matched_any = False
        for t in q.terms:
            tkey = t.token if term_identity == "surface" else chars_key_py(t.token)
            i = idx.get((t.field, tkey))
            if i is None or df_by_key[i] == 0:
                continue  # unmatched term skipped (Reducer.cs:88-89)
            matched_any = True
            tmasks = {m for m in observed if (m >> i) & 1}
            term_mf = (tmasks, {m: (i,) for m in tmasks})
            if q.op == "not":
                # subtraction set: union of the clause's postings; scores
                # are irrelevant (only removal uses it)
                if query_state is None:
                    query_state = term_mf
                else:
                    u = query_state[0] | tmasks
                    query_state = (u, {m: () for m in u})
            else:
                query_state = self._mask_merge(query_state, term_mf, t.op)
        if matched_any:
            state = self._mask_merge(state, query_state, q.op)
        elif q.op == "and" and state is not None:
            # empty clause dict AND-merged clears the result
            # (Reducer.cs:24-39) — mirrors _reduce_query/reference.py
            state = (set(), {})
        if q.and_q is not None:
            state = self._mask_reduce(q.and_q, state, observed, df_by_key,
                                      idx, term_identity)
        if q.or_q is not None:
            state = self._mask_reduce(q.or_q, state, observed, df_by_key,
                                      idx, term_identity)
        if q.not_q is not None:
            state = self._mask_reduce(q.not_q, state, observed, df_by_key,
                                      idx, term_identity)
        return state

    def _term_df(self, scored: DataFrame, field: str, tkey: str) -> DataFrame:
        return scored.filter(
            (F.col("field") == field) & (F.col("term") == tkey)
        ).select("doc_id", "score")

    def _merge(self, state: tuple[DataFrame | None, bool], incoming: DataFrame,
               op: str, incoming_nonempty: bool = False) -> tuple[DataFrame | None, bool]:
        """Reducer.cs:86-149 as DataFrame joins.  ``None`` or empty result
        behaves like Resin's empty dict (insert-all for and/or).

        The bool in ``state`` is known_nonempty: emptiness only needs a
        runtime probe (isEmpty, a limit-1 job) after an intersection may
        have emptied the result — insert-all and OR/NOT merges preserve
        non-emptiness, so single-term / pure-OR queries run probe-free.
        ``incoming_nonempty`` carries the same knowledge for the incoming
        frame: a matched TERM frame is non-empty by construction, but a
        sub-clause result may itself be an emptied intersection — marking
        it non-empty unseen would poison later insert-all decisions."""
        result, known_nonempty = state
        if result is None or (not known_nonempty and result.isEmpty()):
            if op == "not":
                return result, False
            return incoming, incoming_nonempty
        r = result.alias("r")
        t = incoming.alias("t")
        on = F.col("r.doc_id") == F.col("t.doc_id")
        if op == "and":
            out = r.join(t, on, "inner").select(
                F.col("r.doc_id").alias("doc_id"),
                (F.col("r.score") + F.col("t.score")).alias("score"),
            )
            return out, False  # intersection may be empty -> probe next time
        if op == "or":
            out = r.join(t, on, "left").select(
                F.col("r.doc_id").alias("doc_id"),
                (F.col("r.score") + F.coalesce(F.col("t.score"), F.lit(0.0))).alias("score"),
            )
            return out, known_nonempty
        out = r.join(t, on, "left_anti").select(
            F.col("r.doc_id").alias("doc_id"), F.col("r.score").alias("score")
        )
        return out, False  # NOT can empty the result

    def _reduce_query(self, q: Query, state: tuple[DataFrame | None, bool],
                      scored: DataFrame, df_map: dict,
                      term_identity: str) -> tuple[DataFrame | None, bool]:
        """Reducer.cs:9-84 — terms into a fresh frame, merge under the
        clause op, then chained and/or/not sub-queries."""
        query_state: tuple[DataFrame | None, bool] = (None, False)
        matched_any = False
        for t in q.terms:
            tkey = t.token if term_identity == "surface" else chars_key_py(t.token)
            if df_map.get((t.field, tkey), 0) == 0:
                continue  # unmatched term skipped (Reducer.cs:88-89)
            matched_any = True
            term_df = self._term_df(scored, t.field, tkey)
            if q.op == "not":
                # clause-scoped NOT (query.py deviation note): union the
                # clause's postings as the subtraction set
                if query_state[0] is None:
                    query_state = (term_df, True)
                else:
                    query_state = (
                        query_state[0].unionByName(term_df)
                        .groupBy("doc_id")
                        .agg(F.max("score").alias("score")),
                        True,
                    )
            else:
                # a matched term's frame is non-empty by construction
                query_state = self._merge(query_state, term_df, t.op,
                                          incoming_nonempty=True)
        if matched_any:
            state = self._merge(state, query_state[0], q.op,
                                incoming_nonempty=query_state[1])
        elif q.op == "and" and state[0] is not None:
            # the clause's fresh dict stayed empty (terms all unmatched,
            # values that tokenized to nothing, or a pure nesting
            # container) — Resin merges that empty dict under the clause
            # op regardless, and an AND-merge of an empty dict CLEARS a
            # non-empty result (Reducer.cs:24-39).  OR/NOT merges of an
            # empty dict are no-ops.  Mirrors reference.py exactly.
            state = (state[0].limit(0), False)
        if q.and_q is not None:
            state = self._reduce_query(q.and_q, state, scored, df_map, term_identity)
        if q.or_q is not None:
            state = self._reduce_query(q.or_q, state, scored, df_map, term_identity)
        if q.not_q is not None:
            state = self._reduce_query(q.not_q, state, scored, df_map, term_identity)
        return state

    def diagnostics(self, query: dict | Query | None = None) -> dict:
        """X13 — index/operator diagnostics (the reference logs tree
        depth/width and docs/sec, PathFinder.Size + IndexDebugger; the
        Spark analogs are segment/block shape, corpus stats, and the
        executed plan of a query).  Driver-side metadata only — reads
        block METADATA columns, never decodes postings."""
        post = self.postings()
        shape = (
            post.groupBy("field").agg(
                F.countDistinct("segment").alias("n_segments"),
                F.count(F.lit(1)).alias("n_blocks"),
                F.countDistinct("term").alias("n_terms"),
                F.sum("df_block").alias("n_postings"),
                F.max("df_block").alias("max_block_df"),
            ).collect()
        )
        out = {
            "root": self.root,
            "stats": self.stats(),
            "fields": {
                r["field"]: {k: r[k] for k in
                             ("n_segments", "n_blocks", "n_terms",
                              "n_postings", "max_block_df")}
                for r in shape
            },
        }
        if query is not None:
            q = parse_query(query) if isinstance(query, dict) else query
            # the reported plan must show the FULL pipeline (postings
            # scan, scoring, fetch join), and diagnostics must not pay a
            # top-k execution — bypass the eager point-fetch gate via an
            # instance attribute that shadows the class threshold
            self._POINT_FETCH_MIN_DOCS_BYTES = 1 << 62
            try:
                plan = self.search(q, k=10)
            finally:
                del self._POINT_FETCH_MIN_DOCS_BYTES
            out["plan"] = plan._jdf.queryExecution().executedPlan().toString()
        return out

    def vocabulary(self, field: str = "text") -> DataFrame:
        """I5 Build (pure vocabulary): distinct terms of a field with df
        (GraphBuilder.cs:201-241 built a doc-less term tree)."""
        return (
            self.postings()
            .filter(F.col("field") == field)
            .groupBy("term")
            .agg(F.sum("df_block").alias("df"))
        )

    def _evict_persisted(self) -> None:
        """Per-query cleanup: unpersist the previous query's RDDs (a
        long-lived engine must not accumulate one cached RDD per query)."""
        for df in self._cached:
            df.unpersist()
        self._cached.clear()

    def clear_cache(self) -> None:
        """Full reset: persisted RDDs AND the decoded-postings LRU.
        Benchmarks call this between trials so a timed query never hits
        the warm term cache; long-lived sessions keep the LRU across
        queries (the reference's cached-ColumnReader behavior)."""
        self._evict_persisted()
        self._term_lru.clear()
        self._term_lru_postings = 0
        self._stats_lru.clear()
        self._stats_lru_blocks = 0
        self._pos_lru.clear()
        self._pos_lru_occ = 0


def multi_search(
    engines: dict[str, SearchEngine],
    query: dict | Query,
    k: int = 10,
    skip: int = 0,
    select: list[str] | None = None,
    term_identity: str = "surface",
) -> DataFrame:
    """X9 multi-collection search: one query spans collections; result
    keys are (collection, doc) and scores use each collection's own
    stats, exactly as the reference where Terms carry CollectionId and
    the reduce dict is keyed (collectionId, docId) (Term.cs:11,
    Reducer.cs:9).  Per-collection top-k, union, then one global top-k
    (TakeOrderedAndProject).

    The per-collection ``limit(k + skip)`` BEFORE the docs join is
    load-bearing at scale: the broadcast side is at most k+skip rows,
    never the full ranked frame (a hot-term query over a large
    collection would otherwise broadcast millions of rows to every
    executor).  It cannot change results: the global order restricted to
    one collection is (score desc, doc_id asc) — doc_id order ==
    (conv_id, turn_idx) order by construction (ids.py) — so global ranks
    1..skip+k are contained in the union of the per-collection
    top-(skip+k), and page (skip, k) of the global order survives the
    prune.  ``select`` projects extra stored doc columns (present in
    every searched collection) alongside the fixed
    (collection, conv_id, turn_idx, score) keys."""
    extra = [c for c in (select or [])
             if c not in ("doc_id", "conv_id", "turn_idx",
                          "collection", "score")]
    parts = []
    for name, eng in engines.items():
        q = parse_query(query) if isinstance(query, dict) else query
        ranked = (
            eng._ranked(q, term_identity)
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k + skip)
        )
        docs = eng.documents().select(
            "doc_id", "conv_id", "turn_idx", *extra)
        parts.append(
            docs.join(F.broadcast(ranked), "doc_id")
            .select(
                F.lit(name).alias("collection"),
                "conv_id",
                "turn_idx",
                *extra,
                "score",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out = out.orderBy(
        F.desc("score"), F.asc("collection"), F.asc("conv_id"), F.asc("turn_idx")
    )
    if skip:
        out = out.offset(skip)
    return out.limit(k)
