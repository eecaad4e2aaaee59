"""The benchmark's workloads: ``serve`` and ``recrawl``.

Both are one client thread in a closed loop: the next call is issued when
the previous one has returned and its result has been collected. Both
start from the same set-up (seeded synthetic webtext → ``extract_text`` →
``build_index``) and differ in what the timed region stresses:

- ``serve`` opens the index in serving mode (``read_index(cache=True)``,
  the fits-in-cache case) and streams seeded queries through
  ``wand_topk``, then runs the same query set through ``bm25_topk_batch``.
  Only the per-query job floor and the decode/score kernels work there.
- ``recrawl`` writes beside reads on an uncached index (the
  larger-than-cache case): an ``add_segment`` wave replaces 1% of the
  pages with edited HTML, a fresh ``read_index`` answers queries after the
  commit, then ``compact_segments`` runs and a fresh handle answers the
  single and the batched queries. Tombstones, the forward-table delta, the
  snapshot commit and the uncached read path work there.

Every result is compared with ``BM25Oracle`` over the generator's own
page texts after the timed calls; an exception or a mismatch counts as a
failed op.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import functions as F

from semcode_spark.config import EngineConfig, IndexConfig
from semcode_spark.functions.extract import extract_text
from semcode_spark.operators.index_build import build_index, read_index, term_doc_tf
from semcode_spark.operators.query import bm25_topk_batch, wand_topk
from semcode_spark.operators.segments import add_segment, compact_segments
from semcode_spark.oracle import BM25Oracle
from semcode_spark.plans.lineage import read_metrics
from semcode_spark.sources.tableio import read_current_version, version_dir
from semcode_spark.sources.webpages import synth_web_pages

import querygen
from oracle_check import batch_by_query, rank_identical
from tracing import Span, Tracer

N_PAGES = 1000            # ≈14 MB of HTML
# The build's salting threshold. The default (5% of the pages) salts 0-3
# terms of this corpus, none at all for some seeds; at 4% every seed has
# about ten salted terms, the class the query generator calls hot.
HOT_DF_RATIO = 0.04
RECRAWL_SHARE = 0.01      # pages replaced by the re-crawl wave
WAVE_QUERIES = 3          # block queries after the wave's commit (plus a probe)
POST_COMPACT_QUERIES = 5  # the rest of that block, after compaction
BATCH_QUERIES = 48        # queries per bm25_topk_batch call (six blocks): a
                          # smaller set makes its cost depend on which terms
                          # the seed drew
BATCH_REPS = 5            # batched runs of the query set: the first run in a
                          # process is the slowest, and the median of five
                          # is that of the four warm runs, not their maximum


@dataclass
class Result:
    e2e: dict[str, tuple[float, str]] = field(default_factory=dict)
    layer: dict[str, tuple[float, str]] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    notes: list[str] = field(default_factory=list)


class Ledger:
    """Counts ops attempted and failed; failures are reported on stderr."""

    def __init__(self, res: Result):
        self.res = res

    def call(self, what: str, fn):
        self.res.attempted += 1
        try:
            return fn()
        except Exception:
            self.res.failed += 1
            print(f"perfbench: {what} raised", file=sys.stderr)
            traceback.print_exc()
            return None

    def check(self, what: str, ok: bool) -> None:
        """Record a failed check of an op already counted by ``call``."""
        if not ok:
            self.res.failed += 1
            print(f"perfbench: {what} failed its check", file=sys.stderr)

    def verify(self, what: str, ok: bool) -> None:
        """Count a check that is an op of its own."""
        self.res.attempted += 1
        self.check(what, ok)


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def _latency_note(lat: list[float]) -> str:
    if len(lat) < 2:
        return f"query latency ms: n={len(lat)} {lat}"
    q1, q2, q3 = statistics.quantiles(lat, n=4)
    return (f"query latency ms: n={len(lat)} p25={q1:.1f} p50={q2:.1f} "
            f"p75={q3:.1f} max={max(lat):.1f}")


def _dir_bytes(path: str, prefix: str = "") -> int:
    """Bytes of the data files under ``path`` (Spark's local checksum and
    marker files excluded)."""
    total = 0
    for dp, _, fns in os.walk(os.path.join(path, prefix)):
        for fn in fns:
            if not fn.startswith((".", "_")):
                total += os.path.getsize(os.path.join(dp, fn))
    return total


def _snapshot_dir(index_dir: str) -> str:
    return version_dir(index_dir, read_current_version(index_dir))


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing")


def _rows(df_rows) -> list[tuple[int, float]]:
    return [(r["doc_id"], r["score"]) for r in df_rows]


class Corpus:
    """The seeded pages, their golden texts and the oracle over them."""

    def __init__(self, spark, tracer: Tracer, seed: int):
        with tracer.span("synth_web_pages"):
            pages = synth_web_pages(spark, N_PAGES, seed)
            self.pages = pages.select(
                F.xxhash64("url").alias("doc_id"), "html", "text").persist()
            rows = self.pages.select("doc_id", "text").collect()
        self.texts = {r["doc_id"]: r["text"] for r in rows}
        if len(self.texts) != N_PAGES:
            raise RuntimeError("doc_id collision in the generated corpus")
        self.oracle = BM25Oracle(self.texts)

    def docs(self, pages=None):
        """Pages as the engine ingests them: doc_id + text extracted from HTML."""
        p = self.pages if pages is None else pages
        return p.select("doc_id", extract_text(F.col("html")).alias("text"))

    def replace(self, new_texts: dict[int, str]) -> None:
        self.texts.update(new_texts)
        self.oracle = BM25Oracle(self.texts)


def _warm_workers(spark, corpus: Corpus, nproc: int) -> None:
    """Start one Python worker per core (a once-per-session cost every
    deployment pays before its first ingest)."""
    (corpus.docs(corpus.pages.limit(4 * nproc).repartition(nproc))
     .write.format("noop").mode("overwrite").save())


def _index_cfg(nproc: int) -> EngineConfig:
    # IndexConfig's sizing rule: term buckets ≥ 4× the task slots
    return EngineConfig(index=IndexConfig(term_buckets=4 * nproc,
                                          hot_term_df_ratio=HOT_DF_RATIO))


def _query_gen(seed: int, corpus: Corpus, cfg) -> querygen.QueryGen:
    return querygen.QueryGen(seed, corpus.oracle.df, corpus.oracle.n,
                             cfg.index.hot_term_df_ratio)


def _build(spark, tracer, ledger, corpus: Corpus, index_dir: str, cfg) -> Span:
    with tracer.span("build_index") as s:
        summary = build_index(spark, corpus.docs(), index_dir, cfg=cfg, groups=1)
    ledger.verify("build_index n_docs", summary["n_docs"] == N_PAGES)
    if tracer.enabled:
        # the build's own per-stage telemetry, read before later segment
        # ops append to the same table
        stage_ms = {"stats": 0.0, "postings": 0.0}
        for r in read_metrics(spark, index_dir).collect():
            stage_ms["stats" if r["stage"] == "stats" else "postings"] += r["wall_ms"]
        s.attrs["stage_ms"] = stage_ms
    return s


def _check_corpus(ledger, idx: dict, corpus: Corpus, what: str) -> None:
    row = idx.get("_corpus_row") or idx["corpus"].collect()[0]
    ledger.verify(f"{what} corpus stats",
                 int(row["n_docs"]) == corpus.oracle.n
                 and abs(float(row["avgdl"]) - corpus.oracle.avgdl)
                 <= 1e-9 * corpus.oracle.avgdl)


def _wand(spark, tracer, ledger, idx, q, cfg, out: list, name: str = "wand_topk") -> None:
    qid, text, k = q
    with tracer.span(name, query_id=qid, k=k, terms=len(text.split())) as s:
        rows = ledger.call(f"wand_topk {text!r}",
                           lambda: wand_topk(spark, idx, text, k=k, cfg=cfg).collect())
    if rows is not None:
        out.append((q, _rows(rows), s))


def _timed_wand(spark, tracer, ledger, idx, q, cfg, out: list) -> None:
    """A workload query. A traced run asks it twice back to back, tagged
    and untagged, tagged first for even query ids and second for odd ones,
    so each pair's difference is the tracing overhead of one query."""
    if not tracer.enabled:
        _wand(spark, tracer, ledger, idx, q, cfg, out)
        return
    for tagged in ((True, False) if q[0] % 2 == 0 else (False, True)):
        if tagged:
            _wand(spark, tracer, ledger, idx, q, cfg, out)
        else:
            with tracer.paused():
                _wand(spark, tracer, ledger, idx, q, cfg, out)


def _warm_up_query(spark, tracer, ledger, corpus: Corpus, qgen, idx, cfg) -> None:
    """One checked query before the timed region, so the process's first
    run of the query path (JIT, plan caches) is set-up, not a sample."""
    warm: list = []
    q = (-1, f"{qgen.classes['hot'][0]} {qgen.classes['mid'][0]}", 10)
    _wand(spark, tracer, ledger, idx, q, cfg, warm, name="wand_topk.warmup")
    _check_single(ledger, corpus.oracle, warm)


def _check_single(ledger, oracle: BM25Oracle, got: list) -> None:
    for (qid, text, k), rows, _ in got:
        ledger.check(f"wand_topk {text!r} k={k}", rank_identical(rows, oracle.topk(text, k)))


def _batch_set(qgen: querygen.QueryGen, asked: list) -> list:
    """The batched query set: the first queries already asked one at a
    time, topped up from the generator to ``BATCH_QUERIES``."""
    return asked[:BATCH_QUERIES] + [qgen.query() for _ in range(BATCH_QUERIES - len(asked))]


def _batches(spark, tracer, ledger, oracle: BM25Oracle, idx, queries, cfg) -> float:
    """Run ``queries`` through bm25_topk_batch ``BATCH_REPS`` times, check
    every result and return the median queries per second."""
    results = []
    for _ in range(BATCH_REPS):
        with tracer.span("bm25_topk_batch", queries=len(queries)) as s:
            rows = ledger.call("bm25_topk_batch", lambda: bm25_topk_batch(
                spark, idx, queries, cfg=cfg).collect())
        s.attrs["hits"] = len(rows or [])
        results.append((rows, s))
    want = {qid: oracle.topk(text, k) for qid, text, k in queries}
    for rows, _ in results:
        if rows is not None:
            by_q = batch_by_query(rows)
            ledger.check("bm25_topk_batch", all(
                rank_identical(by_q.get(qid, []), w) for qid, w in want.items()))
    return _median(len(queries) / (s.wall_ms / 1000.0) for _, s in results)


# --------------------------------------------------------------- layers ---

def _layer_probes(spark, tracer: Tracer, corpus: Corpus, cfg, index_dir: str,
                  workload_cached: bool) -> dict:
    """Traced run only: materialize extract and tokenize alone, and open the
    final index the way the workload did not, so each layer has numbers."""
    html_bytes = corpus.pages.select(F.sum(F.length("html")).alias("n")).collect()[0]["n"]
    with tracer.span("extract_text") as ext:
        corpus.docs().write.format("noop").mode("overwrite").save()
    docs = spark.createDataFrame(list(corpus.texts.items()), "doc_id long, text string")
    docs = docs.repartition(spark.sparkContext.defaultParallelism).persist()
    docs.count()
    with tracer.span("term_doc_tf") as tok:
        postings = term_doc_tf(docs, cfg=cfg).count()
    docs.unpersist()
    out = {"extract": ext, "tokenize": tok, "postings": postings,
           "html_bytes": html_bytes}
    with tracer.span("read_index", cache=not workload_cached):
        idx = read_index(spark, index_dir, cache=not workload_cached)
    if not workload_cached:
        out["term_dict_terms"] = len(idx.get("_term_dict") or {})
        for name in ("docs", "term_stats", "term_bounds", "postings"):
            idx[name].unpersist()
    return out


def _index_layer(index_dir: str) -> dict[str, tuple[float, str]]:
    import pyarrow.parquet as pq

    snap = _snapshot_dir(index_dir)
    blocks = postings = 0
    for dp, _, fns in os.walk(os.path.join(snap, "postings")):
        for fn in fns:
            if fn.endswith(".parquet") and not fn.startswith("."):
                t = pq.read_table(os.path.join(dp, fn), columns=["n"])
                blocks += t.num_rows
                postings += int(t.column("n").to_numpy().sum())
    pbytes = _dir_bytes(snap, "postings")
    return {
        "index.postings_bytes": (float(pbytes), "B"),
        "index.forward_bytes": (float(_dir_bytes(snap, "forward")), "B"),
        "index.blocks": (float(blocks), "count"),
        "index.bytes_per_posting": (pbytes / max(postings, 1), "B"),
    }


def _span_layer(prefix: str, spans: list[Span], nproc: int) -> dict[str, tuple[float, str]]:
    """Totals over a layer's traced spans (zero when the layer did not run)."""
    wall = sum(s.wall_ms for s in spans) / 1000.0
    run = sum(s.executor_run_ms for s in spans) / 1000.0
    return {
        f"{prefix}.jobs": (float(sum(s.jobs for s in spans)), "count"),
        f"{prefix}.tasks": (float(sum(s.tasks for s in spans)), "count"),
        f"{prefix}.executor_run_s": (run, "s"),
        f"{prefix}.gc_s": (sum(s.gc_ms for s in spans) / 1000.0, "s"),
        f"{prefix}.shuffle_write_mb":
            (sum(s.shuffle_write_bytes for s in spans) / 1e6, "MB"),
        f"{prefix}.failed_tasks": (float(sum(s.failed_tasks for s in spans)), "count"),
        f"{prefix}.core_util": (run / (wall * nproc) if wall else 0.0, "ratio"),
    }


def _layers(tracer: Tracer, res: Result, probes: dict, index_stats: dict,
            session_s: float, nproc: int, build_span: Span) -> None:
    L = res.layer
    L["session.start_s"] = (session_s, "s")
    ext, tok = probes["extract"], probes["tokenize"]
    L["extract.busy_s"] = (ext.executor_run_ms / 1000.0, "s")
    L["extract.html_mb_per_s"] = (probes["html_bytes"] / 1e6 / (ext.wall_ms / 1000.0), "MB/s")
    L["tokenize.busy_s"] = (tok.executor_run_ms / 1000.0, "s")
    L["tokenize.postings"] = (float(probes["postings"]), "count")

    b = _span_layer("build", [build_span], nproc)
    for key in ("jobs", "tasks", "executor_run_s", "gc_s", "shuffle_write_mb",
                "failed_tasks", "core_util"):
        L[f"build.{key}"] = b[f"build.{key}"]
    stage_ms = build_span.attrs["stage_ms"]
    L["build.stats_ms"] = (stage_ms.get("stats", 0.0), "ms")
    L["build.postings_ms"] = (stage_ms.get("postings", 0.0), "ms")

    opens = tracer.named("read_index", traced=True)
    cold = [s.wall_ms for s in opens if not s.attrs.get("cache")]
    hot = [s for s in opens if s.attrs.get("cache")]
    L["open.cold_ms"] = (_median(cold), "ms")
    L["open.hot_ms"] = (_median(s.wall_ms for s in hot), "ms")
    L["open.jobs"] = (_median(s.jobs for s in hot), "count")
    L["open.term_dict_terms"] = (float(probes["term_dict_terms"]), "count")

    L.update(index_stats)

    qs = tracer.named("wand_topk", traced=True)
    L["query.jobs"] = (_median(s.jobs for s in qs), "count")
    L["query.tasks"] = (_median(s.tasks for s in qs), "count")
    L["query.in_job_ms"] = (_median(s.in_job_ms for s in qs), "ms")
    L["query.driver_ms"] = (_median(s.wall_ms - s.in_job_ms for s in qs), "ms")
    L["query.executor_run_ms"] = (_median(s.executor_run_ms for s in qs), "ms")

    bs = tracer.named("bm25_topk_batch", traced=True)
    L["batch.jobs"] = (_median(s.jobs for s in bs), "count")
    L["batch.tasks"] = (_median(s.tasks for s in bs), "count")
    L["batch.executor_run_s"] = (_median(s.executor_run_ms for s in bs) / 1000.0, "s")
    L["batch.hits"] = (_median(s.attrs.get("hits", 0) for s in bs), "count")

    adds = tracer.named("add_segment", traced=True)
    a = _span_layer("add", adds, nproc)
    L["add.jobs"] = a["add.jobs"]
    L["add.executor_run_s"] = a["add.executor_run_s"]
    L["add.shuffle_write_mb"] = a["add.shuffle_write_mb"]
    L["add.tombstones"] = (float(sum(s.attrs.get("replaced", 0) for s in adds)), "count")
    comps = tracer.named("compact_segments", traced=True)
    c = _span_layer("compact", comps, nproc)
    L["compact.jobs"] = c["compact.jobs"]
    L["compact.executor_run_s"] = c["compact.executor_run_s"]
    L["compact.output_mb"] = (sum(s.attrs.get("output_bytes", 0) for s in comps) / 1e6, "MB")

    # tracing overhead: each query asked tagged and untagged back to back,
    # the tagged side with its status-store read. The mean of the two
    # orders' median differences cancels what the first ask warms for
    # the second.
    off = {s.attrs["query_id"]: s.wall_ms for s in tracer.named("wand_topk", traced=False)}
    diffs: dict[int, list[float]] = {0: [], 1: []}
    for s in qs:
        qid = s.attrs["query_id"]
        if qid in off:
            diffs[qid % 2].append(s.wall_ms + s.account_ms - off[qid])
    L["trace.overhead_ms"] = ((_median(diffs[0]) + _median(diffs[1])) / 2, "ms")
    L["trace.account_ms"] = (_median(s.account_ms for s in tracer.spans if s.traced), "ms")


# ------------------------------------------------------------ workloads ---

def serve(spark, work: Path, seed: int, seconds: float, trace: bool,
          session_s: float, nproc: int) -> Result:
    t_setup = time.perf_counter()
    res, tracer = Result(), Tracer(spark, trace)
    ledger = Ledger(res)
    cfg = _index_cfg(nproc)
    index_dir = str(work / "index")

    corpus = Corpus(spark, tracer, seed)
    _warm_workers(spark, corpus, nproc)
    build_span = _build(spark, tracer, ledger, corpus, index_dir, cfg)
    with tracer.span("read_index", cache=True):
        idx = read_index(spark, index_dir, cache=True)
    _check_corpus(ledger, idx, corpus, "serving index")
    qgen = _query_gen(seed, corpus, cfg)
    _warm_up_query(spark, tracer, ledger, corpus, qgen, idx, cfg)
    setup_s = session_s + time.perf_counter() - t_setup

    got: list = []
    queries: list = []
    deadline = time.perf_counter() + seconds
    # whole blocks: stop at the first block boundary after the deadline
    while time.perf_counter() < deadline or not qgen.at_block_start():
        q = qgen.query()
        queries.append(q)
        _timed_wand(spark, tracer, ledger, idx, q, cfg, got)
    batch_set = _batch_set(qgen, queries)
    batch_qps = _batches(spark, tracer, ledger, corpus.oracle, idx, batch_set, cfg)
    _check_single(ledger, corpus.oracle, got)

    lat = [s.wall_ms for _, _, s in got if s.traced or not trace]
    res.notes.append(f"serve: {len(queries)} timed wand_topk queries, "
                     f"{len(batch_set)} per batch x {BATCH_REPS}")
    res.notes.append(f"query mix: {qgen.mix()}")
    res.notes.append(_latency_note(lat))
    build_rate = N_PAGES / (build_span.wall_ms / 1000.0)
    res.notes.append(f"build_docs_per_s = {build_rate:.6g} docs/s (as ingest_docs_per_s)")
    res.e2e = {
        "setup_s": (setup_s, "s"),
        "query_p50_ms": (_median(lat), "ms"),
        "batch_queries_per_s": (batch_qps, "q/s"),
        "ingest_docs_per_s": (build_rate, "docs/s"),
        "index_bytes_per_doc":
            (_dir_bytes(_snapshot_dir(index_dir)) / N_PAGES, "B/doc"),
        "peak_rss_mb": (_jvm_peak_rss_mb(spark), "MB"),
    }
    if trace:
        probes = _layer_probes(spark, tracer, corpus, cfg, index_dir, workload_cached=True)
        probes["term_dict_terms"] = len(idx.get("_term_dict") or {})
        index_stats = _index_layer(index_dir)
        # serving never writes: one re-crawl wave and a compaction after
        # the workload give the segment layer numbers here too
        pages, new_texts, _ = _edit_wave(spark, corpus, seed)
        _replace_wave(spark, tracer, ledger, corpus, index_dir, cfg, pages, new_texts)
        _compact(spark, tracer, ledger, index_dir, cfg)
        _layers(tracer, res, probes, index_stats, session_s, nproc, build_span)
        tracer.dump(_spans_path(work, "serve", seed))
    return res


def _edit_wave(spark, corpus: Corpus, seed: int):
    """The re-crawled pages (edited HTML), their new texts and the terms
    the edits introduced."""
    ids = querygen.pick_recrawl(sorted(corpus.texts), seed, RECRAWL_SHARE)
    html = {r["doc_id"]: bytes(r["html"]) for r in
            corpus.pages.filter(F.col("doc_id").isin(ids)).select("doc_id", "html").collect()}
    new_texts, rows = {}, []
    for d in ids:
        new = querygen.edit_text(corpus.texts[d], seed, d)
        new_texts[d] = new
        rows.append((d, querygen.edit_html(html[d], corpus.texts[d], new)))
    pages = spark.createDataFrame(rows, "doc_id long, html binary")
    added = sorted({t for d in ids for t in new_texts[d].split()}
                   - {t for d in ids for t in corpus.texts[d].split()})
    return pages, new_texts, added


def _replace_wave(spark, tracer, ledger, corpus: Corpus, index_dir: str, cfg,
                  pages, new_texts: dict[int, str]) -> float:
    """Commit one re-crawl wave through add_segment, move the oracle to the
    new texts, and return the call's wall seconds."""
    wave_docs = corpus.docs(pages)
    with tracer.span("add_segment") as s:
        out = ledger.call("add_segment", lambda: add_segment(
            spark, index_dir, wave_docs, cfg=cfg))
    if out is not None:
        s.attrs["replaced"] = out["n_replaced"]
        ledger.check("add_segment replaced", out["n_replaced"] == len(new_texts))
    corpus.replace(new_texts)
    return s.wall_ms / 1000.0


def _compact(spark, tracer, ledger, index_dir: str, cfg) -> float:
    """compact_segments, checked; returns the call's wall seconds."""
    with tracer.span("compact_segments") as s:
        out = ledger.call("compact_segments",
                          lambda: compact_segments(spark, index_dir, cfg=cfg))
    if out is not None:
        s.attrs["output_bytes"] = _dir_bytes(_snapshot_dir(index_dir))
        ledger.check("compact_segments n_docs", out["n_docs"] == N_PAGES)
    return s.wall_ms / 1000.0


def recrawl(spark, work: Path, seed: int, seconds: float, trace: bool,
            session_s: float, nproc: int) -> Result:
    t_setup = time.perf_counter()
    res, tracer = Result(), Tracer(spark, trace)
    ledger = Ledger(res)
    cfg = _index_cfg(nproc)
    index_dir = str(work / "index")

    corpus = Corpus(spark, tracer, seed)
    build_span = _build(spark, tracer, ledger, corpus, index_dir, cfg)
    qgen = _query_gen(seed, corpus, cfg)
    with tracer.span("read_index", cache=False):
        warm_idx = read_index(spark, index_dir)
    _warm_up_query(spark, tracer, ledger, corpus, qgen, warm_idx, cfg)
    setup_s = session_s + time.perf_counter() - t_setup

    block_queries: list = []
    fresh: list = []

    def block_query() -> tuple[int, str, int]:
        q = qgen.query()
        block_queries.append(q)
        return q

    def fresh_round(what: str, queries: list) -> dict | None:
        """Open a fresh handle, answer ``queries`` and return the handle."""
        with tracer.span("read_index", cache=False):
            fi = ledger.call(f"read_index after {what}",
                             lambda: read_index(spark, index_dir))
        if fi is None:
            return None
        got: list = []
        for q in queries:
            _timed_wand(spark, tracer, ledger, fi, q, cfg, got)
        _check_single(ledger, corpus.oracle, got)
        _check_corpus(ledger, fi, corpus, what)
        fresh.extend(got)
        return fi

    pages, new_texts, added = _edit_wave(spark, corpus, seed)
    add_s = _replace_wave(spark, tracer, ledger, corpus, index_dir, cfg, pages, new_texts)
    # the commit is first asked for the rarest term the edits brought in,
    # so the replaced pages themselves must rank
    df = corpus.oracle.df
    probe = qgen.probe(min(added, key=lambda t: (df[t], t)))
    fresh_round("the wave", [probe] + [block_query() for _ in range(WAVE_QUERIES)])
    compact_s = _compact(spark, tracer, ledger, index_dir, cfg)
    # a fixed count, so every box takes the same samples: the wave,
    # compaction and batches already measure longer than --seconds
    fi = fresh_round("compaction", [block_query() for _ in range(POST_COMPACT_QUERIES)])

    batch_set = _batch_set(qgen, block_queries)
    batch_qps = _batches(spark, tracer, ledger, corpus.oracle,
                         fi or read_index(spark, index_dir), batch_set, cfg)

    lat = [s.wall_ms for _, _, s in fresh if s.traced or not trace]
    res.notes.append(f"recrawl: a wave of {len(new_texts)} pages, "
                     f"{len(lat)} fresh queries, "
                     f"{len(batch_set)} per batch x {BATCH_REPS}")
    res.notes.append(f"query mix: {qgen.mix()}")
    res.notes.append(_latency_note(lat))
    res.notes.append(f"replace_docs_per_s = {len(new_texts) / add_s:.6g} docs/s "
                     "(add_segment only)")
    res.notes.append(f"compact_s = {compact_s:.6g} s")
    res.notes.append(f"fresh_query_p50_ms = {_median(lat):.6g} ms (as query_p50_ms)")
    res.e2e = {
        "setup_s": (setup_s, "s"),
        "query_p50_ms": (_median(lat), "ms"),
        "batch_queries_per_s": (batch_qps, "q/s"),
        # a recrawl cycle's sustained replace rate: the wave plus the
        # compaction that folds its tombstones away
        "ingest_docs_per_s": (len(new_texts) / (add_s + compact_s), "docs/s"),
        "index_bytes_per_doc":
            (_dir_bytes(_snapshot_dir(index_dir)) / N_PAGES, "B/doc"),
        "peak_rss_mb": (_jvm_peak_rss_mb(spark), "MB"),
    }
    if trace:
        probes = _layer_probes(spark, tracer, corpus, cfg, index_dir, workload_cached=False)
        _layers(tracer, res, probes, _index_layer(index_dir), session_s, nproc,
                build_span)
        tracer.dump(_spans_path(work, "recrawl", seed))
    return res


def _spans_path(work: Path, workload: str, seed: int) -> str:
    """Where a traced run writes its spans: beside the work dir, which is
    removed when the run ends."""
    out = work.parent.parent / ".perfbench_spans"
    out.mkdir(exist_ok=True)
    return str(out / f"{workload}-{seed}.jsonl")


WORKLOADS = {"serve": serve, "recrawl": recrawl}
