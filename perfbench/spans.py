"""In-memory span tracer and the wrappers that feed it.

Spans are recorded from outside the engine: the wrappers below time calls
into each module's public entry points (``SearchEngine.search``, the
``postings`` decoders, pyarrow dataset and parquet-file reads, Spark
DataFrame actions).  A span
is ``(id, name, start, end, parent, qid, thread, attrs)``; spans of one query
share its ``qid``.  Nothing is written until the run ends.

A span's *layer* is the prefix of its name before the first dot
(``executor.search`` -> ``executor``).  A layer's total counts only its
outermost spans, so a decoder that calls another decoder is not counted
twice; a span's *self time* is its duration minus the part of that
interval its children cover.
"""

from __future__ import annotations

import functools
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, qid: str | None = None, **attrs):
        st = self._stack()
        parent = st[-1] if st else None
        rec = {"id": None, "name": name, "start": time.perf_counter(),
               "end": None, "parent": parent["id"] if parent else None,
               "qid": qid if qid is not None else (
                   parent["qid"] if parent else None),
               # names, unlike idents, are not reused by later threads
               "thread": threading.current_thread().name, "attrs": attrs}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        st.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            st.pop()


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """span id -> duration minus the union of its children's intervals
    (children clipped to the parent's interval)."""
    kids: dict[int, list] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        iv = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
              for c in kids.get(s["id"], [])]
        iv = [(a, b) for a, b in iv if b > a]
        out[s["id"]] = (s["end"] - s["start"]) - _union_len(iv)
    return out


def layer(name: str) -> str:
    return name.split(".", 1)[0]


def outermost(spans: list[dict], prefix: str) -> list[dict]:
    """Spans whose name starts with ``prefix`` and that have no ancestor
    of the same layer within ``spans`` (a query's spans without its root
    are a valid input)."""
    by_id = {s["id"]: s for s in spans}
    lay = layer(prefix)
    out = []
    for s in spans:
        if not s["name"].startswith(prefix):
            continue
        p = s["parent"]
        while p in by_id and layer(by_id[p]["name"]) != lay:
            p = by_id[p]["parent"]
        if p not in by_id:
            p = None
        if p is None:
            out.append(s)
    return out


# ------------------------------------------------------------- wrappers
def _wrap(tracer: Tracer, fn, name: str, on_result=None):
    @functools.wraps(fn)
    def wrapper(*a, **kw):
        with tracer.span(name) as rec:
            out = fn(*a, **kw)
            if on_result is not None:
                on_result(rec, out)
            return out
    return wrapper


def _table_bytes(rec, tbl):
    rec["attrs"]["bytes"] = int(getattr(tbl, "nbytes", 0))


def _dataset_kind(path) -> str:
    p = str(path).replace("\\", "/")
    if "/postings" in p:
        return "postings"
    if "/docs" in p:
        return "docs"
    return "other"


_IO_SPAN = {"postings": "io.postings_read", "docs": "io.docs_fetch",
            "other": "io.other_read"}


class DatasetProxy:
    """Stands in for a ``pyarrow.dataset.Dataset`` (a Cython class whose
    methods cannot be patched) and times its reads."""

    def __init__(self, ds, kind: str, tracer: Tracer):
        self._ds, self._kind, self._tracer = ds, kind, tracer

    def to_table(self, *a, **kw):
        with self._tracer.span(_IO_SPAN[self._kind]) as rec:
            tbl = self._ds.to_table(*a, **kw)
            _table_bytes(rec, tbl)
            return tbl

    def count_rows(self, *a, **kw):
        with self._tracer.span(_IO_SPAN[self._kind]):
            return self._ds.count_rows(*a, **kw)

    def __getattr__(self, name):
        return getattr(self._ds, name)


def install(tracer: Tracer):
    """Patch the traced entry points; returns a function that restores
    every original."""
    import pyarrow.dataset as pads
    import pyarrow.parquet as pq
    from pyspark.sql.classic.dataframe import DataFrame

    from resin_spark import postings
    from resin_spark.executor import SearchEngine

    saved: list[tuple[object, str, object]] = []

    def patch(owner, attr, new):
        saved.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def values(rec, arr):
        rec["attrs"]["values"] = int(len(arr))

    # decode_doc_ids/decode_counts/decode_positions call varint_decode
    # through the module, so its spans nest under theirs
    for fn in ("decode_doc_ids", "decode_counts", "decode_positions",
               "varint_decode"):
        patch(postings, fn, _wrap(tracer, getattr(postings, fn),
                                  f"postings.{fn}", values))
    patch(SearchEngine, "search",
          _wrap(tracer, SearchEngine.search, "executor.search"))
    patch(SearchEngine, "phrase_search",
          _wrap(tracer, SearchEngine.phrase_search, "executor.phrase_search"))
    for act in ("collect", "count", "toPandas"):
        patch(DataFrame, act, _wrap(tracer, getattr(DataFrame, act),
                                    f"spark.{act}"))
    # the docs point fetch opens each covering file (footer parse) and
    # reads its row groups directly
    patch(pq.ParquetFile, "__init__",
          _wrap(tracer, pq.ParquetFile.__init__, "io.docs_fetch"))
    for fn in ("read_row_group", "read_row_groups"):
        patch(pq.ParquetFile, fn,
              _wrap(tracer, getattr(pq.ParquetFile, fn), "io.docs_fetch",
                    _table_bytes))
    orig_dataset = pads.dataset

    @functools.wraps(orig_dataset)
    def dataset(source, *a, **kw):
        return DatasetProxy(orig_dataset(source, *a, **kw),
                            _dataset_kind(source), tracer)

    patch(pads, "dataset", dataset)

    def uninstall():
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)

    return uninstall
