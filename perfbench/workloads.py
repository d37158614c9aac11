"""The benchmark workloads, run against the public `ela_lib_spark` API.

`serve` pins one index and sends a closed-loop stream of WAND queries.
`maintain` pins a base index and runs sync cycles: a new crawl version
of the corpus is diffed against the live pages, synced, near-duplicates
are removed, and the change goes through `apply_delta_batch` and
`compact_index` until the first query on the new snapshot returns; then
queries run on the tiered index. Its crawl versions only add pages.
`maintain-churn` runs the same cycles with updated and deleted pages
too, so queries also run on tombstones; it is not in BENCHMARK.json
(see perfbench/README.md, "Known engine defect"). Every workload builds
its index in set-up, so `index.build` is measured on each.

Every output is checked after it is timed; a wrong or failed op is
recorded in `Run.failures`.
"""

from __future__ import annotations

import os
import time
import traceback
from contextlib import nullcontext
from statistics import median

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ela_lib_spark.index.build import (
    DOC_BITS,
    build_index,
    ids_with_tokens,
    load_index,
)
from ela_lib_spark.index.codecs import decode_block, encode_block
from ela_lib_spark.index.validate import validate_index
from ela_lib_spark.operators.dedup import (
    dedup_minhash_lsh,
    lsh_candidate_pairs,
    minhash_jaccard,
    minhash_signatures,
)
from ela_lib_spark.operators.diff import classify_diff, diff_result, sync_diff_apply
from ela_lib_spark.oracle.brute import brute_topk
from ela_lib_spark.query.wand import prepare_serving, wand_topk
from ela_lib_spark.schemas import WEB_PAGES
from ela_lib_spark.streaming.incremental import (
    DELTA_BUCKET_BASE,
    apply_delta_batch,
    compact_index,
)

from perfbench import gen
from perfbench.measure import tail_percentile
from perfbench.trace import Tracer

CORPUS_DOCS = 4096
N_BUCKETS = 4
N_SHARDS = 2
TOP_K = 10
COUNTED_QUERIES = 20  # exact per-query counts come from this stream prefix
SETUP_SPANS = ("setup.session", "setup.generate", "build", "index.load",
               "query.pin", "warmup")
# Each maintain cycle's crawl change: pages updated, deleted and created,
# and near-duplicate clusters (one created page plus COPIES copies).
APPEND_CYCLE = {"n_update": 0, "n_delete": 0, "n_create": 120, "n_clusters": 20,
                "copies": 2}
CHURN_CYCLE = {**APPEND_CYCLE, "n_update": 100, "n_delete": 40}
# The warm-up cycle runs every op of a cycle once on a quarter of the
# change: first-call costs do not grow with the data, and it keeps
# set-up short.
WARMUP_SHARE = 4
STEADY_QUERIES = 12  # timed queries on the tiered index after each cycle


class Run:
    """State shared by a workload run: session, tracer, seed, results."""

    def __init__(self, spark, tracer: Tracer, work: str, seed: int, seconds: int):
        self.spark = spark
        self.tr = tracer
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.attempted = 0
        self.failures: list[str] = []
        self.e2e: dict[str, tuple[float, int]] = {}  # name -> (value, samples)
        self.layers: dict[str, float] = {}
        self.extra_layers: dict[str, float] = {}  # table-only (one workload)
        self.notes: list[tuple] = []  # printed with the end-to-end table only
        self.record: dict = {}

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.failures.append(what)


class Oracle:
    """Brute-force BM25 over the live corpus.

    Until a major compaction or GC purges them, tombstoned postings stay
    in the index and still count toward df (the Lucene convention for
    deleted docs), while the docs themselves never rank. `dead` holds
    those versions: they are scored with the live docs and dropped from
    the ranking. Each query scores only the docs holding one of its
    terms, which leaves df and every score unchanged (n_docs and avg_dl
    come from the manifest)."""

    def __init__(self, live: dict[int, list[str]], dead: dict[int, list[str]]):
        self.toks = {**dead, **live}
        self.dead = set(dead)
        self.docs_with: dict[str, set[int]] = {}
        for d, ts in self.toks.items():
            for t in set(ts):
                self.docs_with.setdefault(t, set()).add(d)

    def topk(self, q: gen.Query, manifest: dict) -> list[tuple[int, float]]:
        ids = set().union(*(self.docs_with.get(t, set()) for t in q.terms))
        ranked = brute_topk({d: self.toks[d] for d in ids}, list(q.terms),
                            q.mode, len(ids) if self.dead else TOP_K,
                            n_docs=manifest["n_docs"], avg_dl=manifest["avg_dl"],
                            min_match=q.min_match)
        return [(d, s) for d, s in ranked if d not in self.dead][:TOP_K]


def _tokens(pages, epoch: int | None = None) -> dict[str, tuple[int, list[str]]]:
    """url -> (doc_id, tokens) with the ids the build (or the delta
    epoch) assigns."""
    df = ids_with_tokens(pages, N_BUCKETS)
    if epoch is not None:
        off = DELTA_BUCKET_BASE + epoch * N_BUCKETS
        df = df.withColumn("doc_id", F.col("doc_id") + (off << DOC_BITS))
    return {r.url: (r.doc_id, list(r.tokens))
            for r in df.select("url", "doc_id", "tokens").collect()}


def _oracle(live: dict[str, tuple[int, list[str]]], dead: dict | None = None) -> Oracle:
    return Oracle({d: t for d, t in live.values()}, dead or {})


def _first_diff(got: list, want: list) -> str:
    for i, (g, w) in enumerate(zip(got, want)):
        if g != w:
            return f"rank {i}: got {g}, want {w}"
    return f"got {len(got)} rows, want {len(want)}"


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, fs in os.walk(path) for f in fs)


def _postings_dirs(idx_dir: str, manifest: dict) -> list[str]:
    return [os.path.join(idx_dir, manifest["postings_dir"])] + [
        os.path.join(idx_dir, t["postings_dir"]) for t in manifest.get("tiers", [])
    ]


def bytes_per_posting(idx_dir: str, manifest: dict) -> float:
    dirs = _postings_dirs(idx_dir, manifest)
    n = sum(int(pq.read_table(d, columns=["n_docs"]).column("n_docs")
                .to_numpy().sum()) for d in dirs)
    return sum(_dir_bytes(d) for d in dirs) / n


def _query(run: Run, idx: dict, q: gen.Query, span: str = "query") -> tuple:
    """One timed query: the wand_topk call, then collect()."""
    with run.tr.span(span, op=run.tr.new_op(), query=q.key) as s:
        with run.tr.span("wand.plan"):
            df = wand_topk(idx, list(q.terms), q.mode, TOP_K, q.min_match)
        with run.tr.span("wand.exec"):
            rows = df.collect()
    return s, [(r.doc_id, r.score) for r in rows]


def _build_and_pin(run: Run, pages, idx_dir: str) -> tuple[dict, dict]:
    with run.tr.span("build", op=run.tr.new_op()):
        manifest = build_index(run.spark, pages, idx_dir, n_buckets=N_BUCKETS,
                               n_shards=N_SHARDS)
    with run.tr.span("index.load", op=run.tr.new_op()):
        idx = load_index(run.spark, idx_dir)
    with run.tr.span("query.pin", op=run.tr.new_op()):
        prepare_serving(idx)
    if run.tr.enabled:
        _build_layers(run, idx_dir, manifest)
    return idx, manifest


def _generate(run: Run, pdf_fn):
    with run.tr.span("setup.generate", op=run.tr.new_op()):
        pdf = pdf_fn()
        pages = run.spark.createDataFrame(pdf, schema=WEB_PAGES)
    return pdf, pages


def _validate(run: Run, idx_dir: str) -> None:
    with run.tr.span("validate.deep", op=run.tr.new_op()) as s:
        v = validate_index(run.spark, idx_dir, deep=True)
    run.check(v["ok"], f"validate_index(deep=True): {v['checks']}")
    if run.tr.enabled:
        run.layers["validate.deep_s"] = s.secs


def _query_tail(run: Run, lat: list[float]) -> None:
    """Record the samples and the highest percentile with ten samples
    beyond it (too few samples: none); it is printed, not gated."""
    run.record["query_ms"] = lat
    p = tail_percentile(len(lat))
    if p is not None:
        run.notes.append((f"query_p{p}_ms", float(np.percentile(lat, p)), "ms", len(lat)))


def _common_metrics(run: Run, idx_dir: str, manifest: dict, n_docs: int) -> None:
    build = run.tr.find("build")[0]
    parts = [s for s in run.tr.spans if s.name in SETUP_SPANS]
    run.record["setup_parts_s"] = {s.name: s.secs for s in parts}
    run.e2e["setup_s"] = (sum(s.secs for s in parts), 1)
    run.e2e["build_docs_per_s"] = (n_docs / build.secs, 1)
    run.e2e["index_bytes_per_posting"] = (bytes_per_posting(idx_dir, manifest), 1)


def _build_layers(run: Run, idx_dir: str, manifest: dict) -> None:
    """Set-up and build numbers, read right after the build (a later
    major compaction deletes the built postings)."""
    tr, L = run.tr, run.layers
    build = tr.find("build")[0]
    st = build.stages
    for stage in ("docs", "chunks", "ledger", "merge"):
        L[f"build.{stage}_s"] = build.job_secs.get(f"build:{stage}", 0.0)
    L["build.tasks"] = st["numCompleteTasks"]
    L["build.shuffle_mb"] = st["shuffleWriteBytes"] / 2**20
    L["build.spill_mb"] = st["diskBytesSpilled"] / 2**20
    L["build.executor_cpu_s"] = st["executorCpuTime"] / 1e9
    L["build.postings_mb"] = _dir_bytes(os.path.join(idx_dir, "postings")) / 2**20
    L["build.chunks_mb"] = _dir_bytes(os.path.join(idx_dir, "chunks")) / 2**20
    L["setup.session_s"] = tr.find("setup.session")[0].secs
    L["setup.generate_s"] = tr.find("setup.generate")[0].secs
    L["index.load_s"] = tr.find("index.load")[0].secs
    L["query.pin_s"] = tr.find("query.pin")[0].secs
    _codec_rates(run, idx_dir, manifest)


def _wand_layers(run: Run, queries: list) -> None:
    """Per-query numbers over the timed queries. Exact counts use the
    first COUNTED_QUERIES of the stream, which every run reaches."""
    tr, L = run.tr, run.layers
    parts = [{c.name: c for c in tr.children(q)} for q in queries]
    L["wand.plan_ms"] = 1000 * median([p["wand.plan"].secs for p in parts])
    L["wand.exec_ms"] = 1000 * median([p["wand.exec"].secs for p in parts])
    totals = [_op_totals(tr, q) for q in queries]
    counted = totals[:COUNTED_QUERIES]
    n = len(counted)
    L["wand.jobs_per_query"] = sum(t["jobs"] for t in counted) / n
    L["wand.tasks_per_query"] = sum(t["numCompleteTasks"] for t in counted) / n
    L["wand.rows_read_per_query"] = sum(t["inputRecords"] for t in counted) / n
    L["wand.shuffle_kb_per_query"] = sum(t["shuffleReadBytes"] for t in counted) / n / 1024
    L["wand.executor_cpu_ms_per_query"] = median(
        [t["executorCpuTime"] / 1e6 for t in totals])


def _op_totals(tr: Tracer, span) -> dict:
    """Jobs and stage totals of `span` and all spans below it."""
    out = dict(span.stages, jobs=span.jobs)
    for c in tr.children(span):
        for k, v in _op_totals(tr, c).items():
            out[k] = out.get(k, 0) + v
    return out


def _codec_rates(run: Run, idx_dir: str, manifest: dict) -> None:
    """Decode every block of the built postings with `decode_block`,
    re-encode it with `encode_block`, and check the round trip."""
    t = pq.read_table(os.path.join(idx_dir, "postings"),
                      columns=["doc_ids_delta", "tfs", "dls", "n_docs",
                               "first_doc_id"]).to_pydict()
    codec = manifest["codec"]
    blocks = list(zip(t["doc_ids_delta"], t["tfs"], t["dls"], t["n_docs"],
                      t["first_doc_id"]))
    n_post = sum(t["n_docs"])
    with run.tr.span("codec.decode", op=run.tr.new_op()) as ds:
        decoded = [decode_block(d, f, l, int(n), int(first), codec)
                   for d, f, l, n, first in blocks]
    with run.tr.span("codec.encode", op=run.tr.new_op()) as es:
        encoded = [encode_block(ids, tfs, dls, codec) for ids, tfs, dls in decoded]
    run.check(all(e[:3] == b[:3] for e, b in zip(encoded, blocks)),
              "codec round trip differs from the stored blocks")
    run.layers["codec.decode_mpost_per_s"] = n_post / ds.secs / 1e6
    run.layers["codec.encode_mpost_per_s"] = n_post / es.secs / 1e6


# ------------------------------------------------------------------ serve


def serve(run: Run) -> None:
    idx_dir = os.path.join(run.work, "serve_idx")
    pdf, pages = _generate(run, lambda: gen.corpus(run.seed, CORPUS_DOCS))
    idx, manifest = _build_and_pin(run, pages, idx_dir)
    stream = gen.query_stream(run.seed, 4000)
    warm, stream = stream[:len(gen.SHAPES)], stream[len(gen.SHAPES):]
    with run.tr.span("warmup", op=run.tr.new_op()):
        for q in warm:  # one query of each shape
            _query(run, idx, q, span="warmup.query")

    results = []
    t_end = time.perf_counter() + run.seconds
    for q in stream:
        if time.perf_counter() >= t_end:
            break
        try:
            results.append((q, _query(run, idx, q)[1]))
        except Exception as e:  # a failed op is counted, the run goes on
            results.append((q, None))
            run.failures.append(f"{q.key}: {traceback.format_exc()}")
    run.attempted = len(results)
    run.record["stream"] = gen.stream_shape([q for q, _ in results])

    _validate(run, idx_dir)
    run.check(manifest["n_docs"] == CORPUS_DOCS,
              f"manifest n_docs {manifest['n_docs']} != {CORPUS_DOCS}")
    oracle = _oracle(_tokens(pages))
    want: dict[str, list] = {}
    for q, got in results:
        if got is None:
            continue
        if q.key not in want:
            want[q.key] = oracle.topk(q, manifest)
        run.check(got == want[q.key],
                  f"{q.key} != brute_topk: {_first_diff(got, want[q.key])}")

    lat = [s.secs * 1000 for s in run.tr.find("query")]
    run.e2e["op_p50_ms"] = (median(lat), len(lat))
    run.e2e["query_p50_ms"] = (median(lat), len(lat))
    _query_tail(run, lat)
    _common_metrics(run, idx_dir, manifest, CORPUS_DOCS)
    if run.tr.enabled:
        _wand_layers(run, run.tr.find("query"))
        _zero_maintain_layers(run)


# --------------------------------------------------------------- maintain

# Per-layer counts only `maintain` produces; `serve` does none of this
# work, so it reports them as 0. Their times go to the table only.
MAINTAIN_COUNTS = ("maintain.tiers", "compact.write_amp", "compact.written_mb",
                   "diff.shuffle_mb", "dedup.shuffle_mb", "dedup.candidate_pairs",
                   "dedup.verified_per_candidate", "dedup.jobs")
_ROWS_SCHEMA = T.StructType(WEB_PAGES.fields + [T.StructField("row", T.LongType())])


def _zero_maintain_layers(run: Run) -> None:
    for name in MAINTAIN_COUNTS:
        run.layers[name] = 0


def _check_queries(cyc: gen.SyncCycle) -> list[gen.Query]:
    """The fixed check set of each cycle: a head OR (the timed first
    query on the new snapshot), then an AND, a min_match query and the
    last three terms of the first upserted page (on churn cycles, the
    terms an update added), which open the cycle's steady queries."""
    added = cyc.upserts["text"].iloc[0].rsplit(" ", 3)[1:]
    return [
        gen.Query(("term0000",), "OR"),
        gen.Query(("term0002", "term0045"), "AND"),
        gen.Query(("term0001", "term0010", "term0100"), "OR", 2),
        gen.Query(tuple(sorted(set(added))), "OR"),
    ]


def _cycle(run: Run, idx: dict, idx_dir: str, c: int, create_batch: int,
           current, sizes: dict, stream_it, warmup: bool = False) -> dict:
    """One sync cycle, timed as one op, and the steady queries after it
    (none after the warm-up cycle). Cycle c uses delta epochs 2c
    (upserts) and 2c+1 (deletes)."""
    spark, tr = run.spark, run.tr
    cyc = gen.sync_cycle(current, run.seed, c, create_batch, **sizes)
    src = spark.createDataFrame(cyc.src, schema=WEB_PAGES)
    tgt = spark.createDataFrame(current, schema=WEB_PAGES)
    ups = spark.createDataFrame(cyc.upserts.assign(row=np.arange(len(cyc.upserts))),
                                schema=_ROWS_SCHEMA)
    dels = spark.createDataFrame([(u,) for u in cyc.deletes], "url string")
    sync_dir = os.path.join(run.work, f"synced-{c}")
    check_q = _check_queries(cyc)

    with tr.span("cycle", op=tr.new_op(), cycle=c) as cycle_span:
        with tr.span("diff.classify"):
            counts = diff_result(classify_diff(src, tgt))
        with tr.span("diff.sync"):
            sync_diff_apply(src, tgt).write.mode("overwrite").parquet(sync_dir)
        with tr.span("dedup"):
            kept = {r.row for r in dedup_minhash_lsh(ups, key="row")
                    .select("row").collect()}
        upserts = ups.filter(F.col("row").isin(sorted(kept))).drop("row")
        with tr.span("refresh"):
            with tr.span("delta.apply", mode="upsert"):
                apply_delta_batch(upserts, 2 * c, idx_dir, n_buckets=N_BUCKETS,
                                  mode="upsert")
            if cyc.deletes:
                with tr.span("delta.apply", mode="delete"):
                    apply_delta_batch(dels, 2 * c + 1, idx_dir,
                                      n_buckets=N_BUCKETS, mode="delete")
            with tr.span("compact") as cp:
                res = compact_index(spark, idx_dir, mode="auto")
                cp.attrs["mode"] = res["mode"]
            first, first_rows = _query(run, idx, check_q[0], span="query.first")
    steady = [] if warmup else [(q, *_query(run, idx, q)) for q in check_q[1:] + [
        next(stream_it) for _ in range(STEADY_QUERIES - len(check_q) + 1)]]

    m = idx["manifest"]  # re-pinned by the first query
    written = _dir_bytes(os.path.join(
        idx_dir, res["tier"] if res["mode"] == "minor" else m["postings_dir"]))
    ingested = _dir_bytes(os.path.join(idx_dir, "delta_chunks", f"epoch={2 * c}"))
    return {"cycle": cycle_span, "c": c, "cyc": cyc, "src": src, "ups": ups,
            "upserts": upserts, "kept": kept, "counts": counts, "sync_dir": sync_dir,
            "check_q": check_q, "first": first, "first_rows": first_rows,
            "steady_rows": steady, "steady": [s for _, s, _ in steady],
            "mode": res["mode"], "written": written, "ingested": ingested}


def _check_cycle(run: Run, idx: dict, o: dict, live: dict, dead: dict):
    """Untimed checks of one cycle against the injected changes and a
    brute-force ranking of the live corpus. Updates `live` (url ->
    (doc_id, tokens)) and `dead` (doc_id -> tokens of versions
    tombstoned since the last purge); returns the pages the next cycle
    starts from."""
    spark, c, cyc, counts, kept = run.spark, o["c"], o["cyc"], o["counts"], o["kept"]
    steady, src = o["steady_rows"], o["src"]
    run.check({k: counts[k] for k in cyc.expected} == cyc.expected,
              f"cycle {c}: diff_result {counts} != injected {cyc.expected}")
    again = diff_result(classify_diff(spark.read.parquet(o["sync_dir"]), src))
    run.check(again["same"] == again["total"] == len(cyc.src),
              f"cycle {c}: re-classifying the synced target gave {again}")
    row_of = {u: i for i, u in enumerate(cyc.upserts["url"])}
    copies = {u for cl in cyc.clusters for u in cl[1:]}
    run.check(kept == set(range(len(cyc.upserts))) - {row_of[u] for u in copies},
              f"cycle {c}: dedup kept {len(kept)} of {len(cyc.upserts)} rows, "
              f"expected one per injected cluster")
    new = _tokens(o["upserts"], 2 * c)
    for u in [*cyc.deletes, *new]:
        if u in live:
            d, toks = live.pop(u)
            dead[d] = toks
    if o["mode"] in ("major", "gc"):
        dead.clear()
    live.update(new)
    oracle = _oracle(live, dead)
    m = idx["manifest"]
    run.check(m["n_docs"] == len(live),
              f"cycle {c}: manifest n_docs {m['n_docs']} != live {len(live)}")
    for q, rows in [(o["check_q"][0], o["first_rows"])] + [(q, r) for q, _, r in steady]:
        want = oracle.topk(q, m)
        run.check(rows == want, f"cycle {c}: {q.key} != brute_topk: {_first_diff(rows, want)}")
    return cyc.src[~cyc.src["url"].isin(copies)].reset_index(drop=True)


def warmup_sizes(sizes: dict) -> dict:
    return {k: v if k == "copies" else v // WARMUP_SHARE for k, v in sizes.items()}


def maintain(run: Run, sizes: dict = APPEND_CYCLE) -> None:
    """Sync cycles of `sizes` (APPEND_CYCLE or CHURN_CYCLE). Cycle 1 is
    the warm-up, part of set-up: it runs every op of a cycle once, cold,
    on 1/WARMUP_SHARE of the change, and is checked like the timed
    cycles after it."""
    idx_dir = os.path.join(run.work, "maintain_idx")
    tr = run.tr
    batches = gen.batch_ids(run.seed, gen.MAX_BATCHES)  # the base, then one per cycle
    pdf, pages = _generate(run, lambda: gen.corpus(run.seed, CORPUS_DOCS))
    idx, manifest = _build_and_pin(run, pages, idx_dir)
    live, dead = _tokens(pages), {}

    cycles, current, stream_it = [], pdf, iter(gen.query_stream(run.seed, 4000))
    warm_sizes = warmup_sizes(sizes)
    c, t_end = 1, None
    while t_end is None or not cycles or time.perf_counter() < t_end:
        warm = t_end is None
        try:
            with tr.span("warmup", op=tr.new_op()) if warm else nullcontext():
                out = _cycle(run, idx, idx_dir, c, batches[c], current,
                             warm_sizes if warm else sizes, stream_it, warmup=warm)
            current = _check_cycle(run, idx, out, live, dead)
        except Exception as e:  # a failed op is counted, the run stops
            run.failures.append(f"cycle {c}: {traceback.format_exc()}")
            run.attempted += 1
            break
        run.attempted += 1 + len(out["steady"])
        if warm:
            t_end = time.perf_counter() + run.seconds
        else:
            cycles.append(out)
        c += 1
    run.record["cycle_modes"] = [o["mode"] for o in cycles]
    run.record["stream"] = gen.stream_shape(
        [q for o in cycles for q, _, _ in o["steady_rows"]])
    if not cycles:
        return

    ops = [o["cycle"].secs * 1000 for o in cycles]
    qs = [s.secs * 1000 for o in cycles for s in o["steady"]]
    run.e2e["op_p50_ms"] = (median(ops), len(ops))
    run.e2e["query_p50_ms"] = (median(qs), len(qs))
    run.record["cycle_ms"] = ops
    run.record["cycle_parts_s"] = [
        {f"{c.name}{'.' + c.attrs['mode'] if 'mode' in c.attrs else ''}": c.secs
         for c in tr.spans if c.start >= o["cycle"].start and c.end <= o["cycle"].end
         and c is not o["cycle"]}
        for o in cycles]
    run.record["query_ms"] = qs
    _common_metrics(run, idx_dir, idx["manifest"], CORPUS_DOCS)
    if tr.enabled:
        _wand_layers(run, [s for o in cycles for s in o["steady"]])
        _maintain_layers(run, cycles, idx, idx_dir, live)
        _validate(run, idx_dir)  # traced runs only, to keep a run short


def _maintain_layers(run: Run, cycles: list[dict], idx: dict, idx_dir: str,
                     live: dict) -> None:
    """Per-layer numbers of the timed cycles, then two traced-only
    probes after them: one major compaction (timed cycles run the
    steady-state minor one) and exact LSH counts."""
    tr, L, X = run.tr, run.layers, run.extra_layers
    m = idx["manifest"]
    L["maintain.tiers"] = len(m.get("tiers", []))
    X["maintain.tombstones"] = len(idx.get("deleted_ids") or [])
    t0 = cycles[0]["cycle"].start  # the warm-up cycle is not counted

    def secs(name, **attrs):
        return [s.secs for s in tr.spans if s.name == name and s.start >= t0
                and all(s.attrs.get(k) == v for k, v in attrs.items())]

    X["maintain.refresh_s"] = median(secs("refresh"))
    X["delta.apply_s"] = median([
        sum(s.secs for s in tr.spans if s.name == "delta.apply"
            and o["cycle"].start <= s.start <= o["cycle"].end)
        for o in cycles])
    if secs("compact", mode="minor"):
        X["compact.minor_s"] = median(secs("compact", mode="minor"))
    X["diff.classify_s"] = median(secs("diff.classify"))
    X["diff.sync_s"] = median(secs("diff.sync"))
    X["dedup.s"] = median(secs("dedup"))
    X["query.repin_s"] = median([
        o["first"].secs - median([s.secs for s in o["steady"]]) for o in cycles])

    first = cycles[0]
    kids = {s.name: s for s in tr.children(first["cycle"])}
    L["diff.shuffle_mb"] = sum(
        _op_totals(tr, kids[n])["shuffleWriteBytes"]
        for n in ("diff.classify", "diff.sync")) / 2**20
    dd = _op_totals(tr, kids["dedup"])
    L["dedup.shuffle_mb"] = dd["shuffleWriteBytes"] / 2**20
    L["dedup.jobs"] = dd["jobs"]
    L["compact.written_mb"] = median([o["written"] for o in cycles]) / 2**20
    L["compact.write_amp"] = (sum(o["written"] for o in cycles)
                              / sum(o["ingested"] for o in cycles))

    # exact LSH counts over the first timed cycle's dedup input, outside
    # any timed op
    with tr.span("dedup.counts", op=tr.new_op()):
        sigs = minhash_signatures(first["ups"], key="row").cache()
        pairs = lsh_candidate_pairs(sigs, key="row").cache()
        n_cand = pairs.count()
        n_ver = (minhash_jaccard(sigs, pairs, key="row")
                 .filter(F.col("est_jaccard") >= 0.8).count())
        pairs.unpersist()
        sigs.unpersist()
    L["dedup.candidate_pairs"] = n_cand
    L["dedup.verified_per_candidate"] = n_ver / n_cand if n_cand else 0.0

    with tr.span("compact", op=tr.new_op(), mode="major") as major:
        compact_index(run.spark, idx_dir, mode="major")
    X["compact.major_s"] = major.secs
    oracle = _oracle(live)  # the major compaction purged every tombstone
    for q in _check_queries(cycles[-1]["cyc"]):
        rows = [(r.doc_id, r.score) for r in
                wand_topk(idx, list(q.terms), q.mode, TOP_K, q.min_match).collect()]
        want = oracle.topk(q, idx["manifest"])
        run.check(rows == want, f"after major: {q.key} != brute_topk: "
                                f"{_first_diff(rows, want)}")


WORKLOADS = {"serve": serve, "maintain": maintain,
             "maintain-churn": lambda run: maintain(run, CHURN_CYCLE)}
