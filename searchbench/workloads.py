"""The benchmark's workloads. Each one sets up (timed as ``setup_s``), then
drives the engine's public calls from one closed-loop client until the
deadline, checking every answer, and records what it saw in a ``Run``.

build_zipf   single-shot ``build.build_index`` over a generated code corpus.
ingest_mix   ``checkpoint.build_unit`` + ``checkpoint.finalize_incremental``
             appends with single ``daat.daat_topk`` queries in between.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import traceback
from collections.abc import Callable
from dataclasses import dataclass, field

import numpy as np
import pyarrow.dataset as pads
import pyarrow.parquet as pq

import gen
from spans import Tracer, inclusive

K = 10
#: Extra oracle depth, so a near-tie at rank K cannot hide the document the
#: engine's total order puts there.
_ORACLE_SLACK = 10
_SCORE_TOL = 1e-6


@dataclass
class Run:
    """What a workload records; ``run.py`` turns it into the result line."""

    setup_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    op_ms: list = field(default_factory=list)  # the workload's defining call
    docs_per_s: list = field(default_factory=list)  # per write op
    bytes_per_posting: list = field(default_factory=list)
    traced_op_ms: list = field(default_factory=list)
    layers: dict = field(default_factory=dict)  # per-layer metrics (traced runs)
    notes: dict = field(default_factory=dict)
    tracer: Tracer | None = None
    #: Traced runs: fills ``layers`` from the event-log rollup once Spark has
    #: stopped and the log is complete.
    finish: Callable[[dict], None] | None = None

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"searchbench: FAILED {what}", file=sys.stderr, flush=True)


# --------------------------------------------------------------------------
# shared helpers


def load_corpus(spark, corpus: gen.Corpus, path: str, n_files: int):
    """Write the corpus as ``n_files`` parquet files of contiguous doc_id
    slices (the scan splits across cores and doc_id predicates prune files)
    and return it as a DataFrame with its schema given, not inferred."""
    import pyarrow as pa

    os.makedirs(path, exist_ok=True)
    table = pa.Table.from_pandas(corpus.docs, preserve_index=False)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:03d}.parquet"))
    schema = ", ".join(f"`{f.name}` {'long' if f.name == 'doc_id' else 'string'}"
                       for f in table.schema)
    return spark.read.schema(schema).parquet(path)


def read_blocks(seg_dir: str):
    """All block rows of a segments directory (any partition layout)."""
    cols = ["term", "range_id", "first_doc_id", "doc_gaps", "tfs"]
    return pads.dataset(seg_dir, format="parquet", partitioning="hive").to_table(columns=cols)


def _varints(col) -> int:
    """Number of LEB128 values in a binary column: one terminator byte (high
    bit clear) ends each value."""
    col = col.combine_chunks()
    offsets = np.frombuffer(col.buffers()[1], dtype=np.int32)[col.offset:col.offset + len(col) + 1]
    data = np.frombuffer(col.buffers()[2], dtype=np.uint8)[offsets[0]:offsets[-1]]
    return int(np.count_nonzero(data < 0x80))


def decoded_count(blocks) -> int:
    """Postings the blocks hold, decoded from the streams themselves: one
    first doc_id per block plus one per gap varint. The tf stream must hold
    the same number of values, else the count is -1."""
    n = blocks.num_rows + _varints(blocks["doc_gaps"])
    return n if _varints(blocks["tfs"]) == n else -1


def dir_bytes(path: str, suffix: str = ".parquet") -> tuple[int, int]:
    """(total bytes, file count) of the ``suffix`` files under ``path``."""
    total = files = 0
    for root, _, names in os.walk(path):
        for name in names:
            if name.endswith(suffix):
                total += os.path.getsize(os.path.join(root, name))
                files += 1
    return total, files


def codec_rates(corpus: gen.Corpus, range_size: int, blocks) -> dict:
    """In-process codec throughput on this workload's own postings (encode,
    grouped per (term, range) exactly as the build groups them) and on the
    built index's own blocks (decode), in millions of postings per second."""
    from sparksearch.codec import BLOCK_SIZE, decode_blocks, encode_sublist

    rng_id = corpus.post_doc // range_size
    order = np.lexsort((corpus.post_doc, rng_id, corpus.post_rank))
    doc, tf = corpus.post_doc[order], corpus.post_tf[order]
    dl = corpus.doc_len[doc]
    key = corpus.post_rank[order] * (int(rng_id.max()) + 1) + rng_id[order]
    cuts = np.flatnonzero(np.diff(key)) + 1
    starts = np.concatenate(([0], cuts))
    ends = np.concatenate((cuts, [key.size]))
    t0 = time.perf_counter()
    for s, e in zip(starts, ends):
        encode_sublist(doc[s:e], tf[s:e], BLOCK_SIZE, dls=dl[s:e])
    enc_s = time.perf_counter() - t0

    firsts = blocks["first_doc_id"].to_numpy()
    gaps, tfs = blocks["doc_gaps"].to_pylist(), blocks["tfs"].to_pylist()
    t0 = time.perf_counter()
    ids, _ = decode_blocks(firsts, gaps, tfs)
    dec_s = time.perf_counter() - t0
    return {
        "codec.encode_sublist.mpostings_per_s": corpus.n_postings / enc_s / 1e6,
        "codec.decode_blocks.mpostings_per_s": ids.size / dec_s / 1e6,
    }


def n_groups(blocks) -> int:
    """Distinct (term, range_id) sub-lists: the build's encode groups."""
    return blocks.group_by(["term", "range_id"]).aggregate([]).num_rows


def median(xs, default=0.0) -> float:
    return float(statistics.median(xs)) if xs else default


def span_s(sp: dict) -> float:
    return sp["end"] - sp["start"]


#: Per-layer metrics every traced run reports; a layer the workload does not
#: exercise reports 0.
LAYER_UNITS = {
    "build.tokenize_tf.s": "s",
    "build.build_segments.s": "s",
    "build.sinks.s": "s",
    "build.encode_groups": "count",
    "build.postings_per_group": "postings",
    "build.shuffle_bytes_per_posting": "B/posting",
    "build.spill_bytes": "B",
    "build.gc_s": "s",
    "codec.encode_sublist.mpostings_per_s": "Mpostings/s",
    "codec.decode_blocks.mpostings_per_s": "Mpostings/s",
    "build.load_index.ms": "ms",
    "daat.plan_ms": "ms",
    "daat.exec_ms": "ms",
    "daat.jobs_per_call": "count",
    "daat.tasks_per_call": "count",
    "daat.scan_rows_per_result": "rows/result",
    "daat.scan_bytes_per_query": "B/query",
    "checkpoint.build_unit.s": "s",
    "checkpoint.finalize_incremental.s": "s",
    "checkpoint.finalize_input_postings": "postings",
    "checkpoint.n_gens": "count",
    "checkpoint.segment_files": "count",
    "trace.overhead_ms": "ms",
}


def expect(run: Run, ok: bool, what: str) -> bool:
    if not ok:
        run.fail(what)
    return ok


# --------------------------------------------------------------------------
# build_zipf

#: The build runs at ``build_index``'s own geometry, the one the production
#: job uses by default: 64 layout buckets and one doc_id range per shuffle
#: partition (= cores).
BUILD_ZIPF = {
    "corpus": gen.CorpusSpec(n_docs=800, vocab_size=1000, zipf_s=1.1, min_len=40, max_len=160),
    "warmup_docs": 20,
}


def build_zipf(ctx, run: Run) -> None:
    from sparksearch.build import build_index, build_segments, tokenize_tf

    spark, cfg = ctx.spark, BUILD_ZIPF
    tracer = Tracer(ctx.run_id, spark.sparkContext, enabled=ctx.trace)
    t_setup = time.perf_counter()
    corpus = gen.gen_corpus(cfg["corpus"], ctx.seed)
    src = os.path.join(ctx.work, "corpus")
    docs = load_corpus(spark, corpus, src, 2 * ctx.cores)
    index = os.path.join(ctx.work, "index")
    # build_index's own range geometry: doc_ids are dense from 0.
    range_size = -(-corpus.n_docs // int(spark.conf.get("spark.sql.shuffle.partitions")))
    ctx.mark("corpus written")

    def build() -> tuple[float, dict]:
        t0 = time.perf_counter()
        stats = build_index(spark, docs, index, text_col="content")
        return time.perf_counter() - t0, stats

    def check(stats: dict) -> bool:
        blocks = read_blocks(os.path.join(index, "segments"))
        got = decoded_count(blocks)
        ok = expect(run, got == corpus.n_postings,
                    f"decoded postings {got} != {corpus.n_postings}")
        ok = ok and expect(run, stats["n_docs"] == corpus.n_docs,
                           f"n_docs {stats['n_docs']} != {corpus.n_docs}")
        ok = ok and expect(run, abs(stats["avgdl"] - corpus.avgdl) <= 1e-9 * corpus.avgdl,
                           f"avgdl {stats['avgdl']} != {corpus.avgdl}")
        return ok

    # Warm-up: one build over a slice of the corpus runs every stage of the
    # build once (starts the Python worker pool, codegen, JIT); counted in
    # set-up, and in attempted / failed like the window's builds.
    run.attempted += 1
    try:
        build_index(spark, docs.filter(docs.doc_id < cfg["warmup_docs"]),
                    os.path.join(ctx.work, "warmup_index"), text_col="content")
    except Exception:
        traceback.print_exc()
        run.fail("warm-up build_index raised")
    ctx.mark("warm-up build done")
    run.setup_s = time.perf_counter() - t_setup

    # The window lasts --seconds and holds at least one build; a traced run
    # alternates untraced and traced builds, starting untraced, and runs one
    # of each at least.
    deadline = time.perf_counter() + ctx.seconds
    i, last_ok = 0, False
    while time.perf_counter() < deadline or i < (2 if ctx.trace else 1):
        traced = ctx.trace and i % 2 == 1
        i += 1
        run.attempted += 1
        last_ok = False
        try:
            if traced:
                with tracer.span("build.iteration"):
                    with tracer.span("build.tokenize_tf"):
                        tf = tokenize_tf(docs.select("doc_id", "content"), "content").persist()
                        tf.count()
                    with tracer.span("build.build_segments"):
                        build_segments(tf, None, range_size).write.format(
                            "noop").mode("overwrite").save()
                    tf.unpersist()
                    with tracer.span("build.build_index"):
                        wall, stats = build()
                run.traced_op_ms.append(wall * 1e3)
            else:
                wall, stats = build()
                run.op_ms.append(wall * 1e3)
                run.docs_per_s.append(corpus.n_docs / wall)
            if check(stats):
                last_ok = True
                seg_bytes, _ = dir_bytes(os.path.join(index, "segments"))
                run.bytes_per_posting.append(seg_bytes / corpus.n_postings)
        except Exception:  # a failed call is a failed operation; keep going
            traceback.print_exc()
            run.fail("build_index raised")

    run.notes.update(n_docs=corpus.n_docs, n_postings=corpus.n_postings, builds=i)
    run.tracer = tracer
    if not ctx.trace:
        return

    layers = dict.fromkeys(LAYER_UNITS, 0.0)
    if last_ok:  # else the index on disk is not one to measure
        blocks = read_blocks(os.path.join(index, "segments"))
        groups = n_groups(blocks)
        layers.update(codec_rates(corpus, range_size, blocks))
        layers["build.encode_groups"] = groups
        layers["build.postings_per_group"] = corpus.n_postings / groups

    def finish(rollup: dict) -> None:
        tok = [span_s(s) for s in tracer.named("build.tokenize_tf")]
        seg = [span_s(s) for s in tracer.named("build.build_segments")]
        full = tracer.named("build.build_index")
        layers["build.tokenize_tf.s"] = median(tok)
        layers["build.build_segments.s"] = median(seg)
        layers["build.sinks.s"] = median([span_s(b) - t - s for b, t, s in zip(full, tok, seg)])
        tots = [inclusive(rollup, tracer.spans, b["id"]) for b in full]
        layers["build.shuffle_bytes_per_posting"] = median(
            [t["shuffle_write_bytes"] / corpus.n_postings for t in tots])
        layers["build.spill_bytes"] = median([t["spill_bytes"] for t in tots])
        layers["build.gc_s"] = median([t["gc_ms"] / 1e3 for t in tots])
        layers["trace.overhead_ms"] = median(run.traced_op_ms) - median(run.op_ms)
        run.layers = layers

    run.finish = finish


# --------------------------------------------------------------------------
# ingest_mix

#: 8 buckets, as the repository's resume and streaming tests pin for the
#: incremental path: at the production job's 64, a 200-doc unit leaves about
#: 15 terms per segment file and queries mostly time opening tiny files
#: (README.md has the measurement).
INGEST_MIX = {
    "corpus": gen.CorpusSpec(n_docs=800, vocab_size=1000, zipf_s=1.1, min_len=40, max_len=160),
    "n_units": 4,
    "n_buckets": 8,
    "queries_per_append": 6,
    "warmup_queries": 1,
}


def normalize(ranked) -> list[tuple[int, float]]:
    """Top-K under the engine-wide total order: score at 6 decimals DESC,
    then doc_id ASC."""
    return sorted(ranked, key=lambda x: (-round(x[1], 6), x[0]))[:K]


def same_ranking(rows, expected) -> bool:
    got = sorted(((r["rank"], r["doc_id"], r["score"]) for r in rows))
    if len(got) != len(expected):
        return False
    return all(d == ed and abs(s - es) <= _SCORE_TOL
               for (_, d, s), (ed, es) in zip(got, expected))


def ingest_mix(ctx, run: Run) -> None:
    from oracle_bm25 import Bm25Oracle
    from sparksearch.build import load_index
    from sparksearch.checkpoint import build_geometry, build_unit, finalize_incremental
    from sparksearch.codec import BLOCK_SIZE
    from sparksearch.daat import daat_topk

    spark, cfg = ctx.spark, INGEST_MIX
    tracer = Tracer(ctx.run_id, spark.sparkContext, enabled=ctx.trace)
    n_units, first = cfg["n_units"], cfg["n_units"] // 2
    t_setup = time.perf_counter()
    corpus = gen.gen_corpus(cfg["corpus"], ctx.seed)
    src = os.path.join(ctx.work, "corpus")
    docs = load_corpus(spark, corpus, src, 2 * ctx.cores)
    index = os.path.join(ctx.work, "index")
    ctx.mark("corpus written")

    meta = build_geometry(spark, docs, index, n_units, None, cfg["n_buckets"], BLOCK_SIZE)
    span = meta["unit_span"]
    doc_unit = corpus.docs["doc_id"].to_numpy() // span
    post_unit = corpus.post_doc // span
    unit_docs = np.bincount(doc_unit, minlength=n_units)
    unit_dl = np.bincount(doc_unit, weights=corpus.doc_len, minlength=n_units)
    unit_postings = np.bincount(post_unit, minlength=n_units)

    # Oracle answers for every index state the run can query: after m units.
    texts = corpus.docs["content"].tolist()
    pairs = list(zip(corpus.docs["doc_id"].tolist(), texts))
    # Queries with their oracle answers for every state the run queries:
    # m units searchable. State ``first`` (set-up) gets the warm-up queries.
    oracle_q: dict[int, list[tuple[str, list]]] = {}
    for m in range(first, n_units + 1):
        oracle = Bm25Oracle(pairs[: int(unit_docs[:m].sum())])
        n_q = cfg["warmup_queries"] if m == first else cfg["queries_per_append"]
        qs = gen.gen_queries(corpus, ctx.seed * 1000 + m, n_q, 1, 4, unknown_share=0.05)
        oracle_q[m] = [(q, normalize(oracle.topk(q, K + _ORACLE_SLACK))) for q in qs]
    ctx.mark("oracle answers ready")

    def append(u: int) -> tuple[float, dict]:
        with tracer.span("checkpoint.append", unit=u):
            t0 = time.perf_counter()
            with tracer.span("checkpoint.build_unit"):
                build_unit(spark, docs, index, u, span, text_col="content")
            with tracer.span("checkpoint.finalize_incremental"):
                stats = finalize_incremental(spark, index)
            return time.perf_counter() - t0, stats

    def query(text: str) -> tuple[float, list]:
        with tracer.span("daat.query", n_gens=layout[0], segment_files=layout[1]):
            t0 = time.perf_counter()
            with tracer.span("daat.plan"):
                df = daat_topk(spark, index, [(0, text)], k=K)
            with tracer.span("daat.exec") as ex:
                rows = df.collect()
                if ex is not None:
                    ex["results"] = len(rows)
            wall = time.perf_counter() - t0
        return wall, rows

    def read_layout() -> tuple[int, int]:
        """(segment generations, segment files) of the index as it stands."""
        import json

        with open(os.path.join(index, "stats.json")) as f:
            n_gens = json.load(f)["n_gens"]
        return n_gens, dir_bytes(os.path.join(index, "segments"))[1]

    # Set-up's own finalize and warm-up queries are checked like the window's
    # calls and count in attempted / failed.
    for u in range(first):
        build_unit(spark, docs, index, u, span, text_col="content")
    stats = finalize_incremental(spark, index)
    run.attempted += 1
    check_new_gen(run, index, stats, first, unit_docs, unit_dl, unit_postings, range(first))
    snapshot = os.path.join(ctx.work, "snapshot")
    shutil.copytree(index, snapshot)
    layout = read_layout()
    ctx.mark("set-up state finalized")
    for text, expected in oracle_q[first]:
        run.attempted += 1
        try:
            _, rows = query(text)
            expect(run, same_ranking(rows, expected), f"warm-up query {text!r} ranking")
        except Exception:
            traceback.print_exc()
            run.fail(f"warm-up query {text!r} raised")
    ctx.mark("warm-up queries done")
    tracer.spans.clear()
    run.setup_s = time.perf_counter() - t_setup

    deadline = time.perf_counter() + ctx.seconds
    m, i = first, 0
    freshness = []
    # One cycle: append the next unit, then query the index it produced, so
    # every query sees two or more segment generations. The window lasts
    # --seconds and holds at least one cycle; a traced run alternates
    # untraced and traced cycles, starting untraced, and runs one of each at
    # least.
    while time.perf_counter() < deadline or i < (2 if ctx.trace else 1):
        if m == n_units:  # every unit appended: back to the set-up state
            shutil.rmtree(index)
            shutil.copytree(snapshot, index)
            layout = read_layout()
            m = first
        traced = ctx.trace and i % 2 == 1
        tracer.enabled = traced
        i += 1
        run.attempted += 1
        try:
            wall, stats = append(m)
            m += 1
            if check_new_gen(run, index, stats, m, unit_docs, unit_dl, unit_postings, [m - 1]):
                freshness.append(wall)
                run.docs_per_s.append(unit_docs[m - 1] / wall)
                layout = read_layout()
                if traced:
                    gen_dir = os.path.join(index, "segments", f"gen={stats['n_gens'] - 1}")
                    fin = tracer.named("checkpoint.finalize_incremental")[-1]
                    fin["postings"] = stats["finalize_input_postings"]
                    fin["groups"] = n_groups(read_blocks(gen_dir))
                seg_bytes, _ = dir_bytes(os.path.join(index, "segments"))
                run.bytes_per_posting.append(seg_bytes / int(unit_postings[:m].sum()))
        except Exception:
            traceback.print_exc()
            run.fail(f"append of unit {m} raised")
            m = n_units  # the index state is unknown: restore before going on
            continue
        for text, expected in oracle_q[m]:
            run.attempted += 1
            try:
                wall, rows = query(text)
                (run.traced_op_ms if traced else run.op_ms).append(wall * 1e3)
                expect(run, same_ranking(rows, expected), f"query {text!r} ranking")
            except Exception:
                traceback.print_exc()
                run.fail(f"query {text!r} raised")
        if traced:
            # Its own call, after the cycle's queries, so that traced queries
            # make exactly the calls untraced ones make.
            with tracer.span("build.load_index"):
                load_index(spark, index)
    tracer.enabled = ctx.trace
    run.notes.update(n_docs=corpus.n_docs, appends=len(freshness),
                     freshness_p50_s=median(freshness), queries=len(run.op_ms))
    run.tracer = tracer
    if not ctx.trace:
        return

    layers = dict.fromkeys(LAYER_UNITS, 0.0)
    layers.update(codec_rates(corpus, meta["range_size"],
                              read_blocks(os.path.join(index, "segments"))))

    def finish(rollup: dict) -> None:
        sp = tracer.spans
        queries = tracer.named("daat.query")
        execs = tracer.named("daat.exec")
        layers["build.load_index.ms"] = median(
            [span_s(s) * 1e3 for s in tracer.named("build.load_index")])
        layers["daat.plan_ms"] = median([span_s(s) * 1e3 for s in tracer.named("daat.plan")])
        layers["daat.exec_ms"] = median([span_s(s) * 1e3 for s in execs])
        qt = [inclusive(rollup, sp, q["id"]) for q in queries]
        layers["daat.jobs_per_call"] = median([t["jobs"] for t in qt])
        layers["daat.tasks_per_call"] = median([t["tasks"] for t in qt])
        et = [inclusive(rollup, sp, e["id"]) for e in execs]
        results = sum(e.get("results", 0) for e in execs)
        layers["daat.scan_rows_per_result"] = sum(t["records_read"] for t in et) / max(results, 1)
        layers["daat.scan_bytes_per_query"] = median([t["bytes_read"] for t in et])
        layers["checkpoint.n_gens"] = median([q["n_gens"] for q in queries])
        layers["checkpoint.segment_files"] = median([q["segment_files"] for q in queries])
        fins = [f for f in tracer.named("checkpoint.finalize_incremental") if "postings" in f]
        layers["checkpoint.build_unit.s"] = median(
            [span_s(s) for s in tracer.named("checkpoint.build_unit")])
        layers["checkpoint.finalize_incremental.s"] = median([span_s(s) for s in fins])
        layers["checkpoint.finalize_input_postings"] = median([f["postings"] for f in fins])
        layers["build.encode_groups"] = median([f["groups"] for f in fins])
        layers["build.postings_per_group"] = median([f["postings"] / f["groups"] for f in fins])
        layers["build.shuffle_bytes_per_posting"] = median(
            [inclusive(rollup, sp, f["id"])["shuffle_write_bytes"] / f["postings"] for f in fins])
        at = [inclusive(rollup, sp, a["id"]) for a in tracer.named("checkpoint.append")]
        layers["build.spill_bytes"] = median([t["spill_bytes"] for t in at])
        layers["build.gc_s"] = median([t["gc_ms"] / 1e3 for t in at])
        layers["trace.overhead_ms"] = median(run.traced_op_ms) - median(run.op_ms)
        run.layers = layers

    run.finish = finish


def check_new_gen(run, index, stats, m, unit_docs, unit_dl, unit_postings, new_units) -> bool:
    """After a finalize that made units [0, m) searchable: global stats match
    the generator, and the new generation decodes to exactly the new units'
    postings."""
    n_docs, sum_dl = int(unit_docs[:m].sum()), float(unit_dl[:m].sum())
    want = int(sum(unit_postings[u] for u in new_units))
    gen_dir = os.path.join(index, "segments", f"gen={stats['n_gens'] - 1}")
    got = decoded_count(read_blocks(gen_dir))
    return (
        expect(run, stats["n_docs"] == n_docs, f"n_docs {stats['n_docs']} != {n_docs}")
        and expect(run, abs(stats["avgdl"] - sum_dl / n_docs) <= 1e-9 * sum_dl / n_docs,
                   f"avgdl {stats['avgdl']} != {sum_dl / n_docs}")
        and expect(run, stats["finalize_input_postings"] == want,
                   f"finalize_input_postings {stats['finalize_input_postings']} != {want}")
        and expect(run, got == want, f"decoded postings of the new generation {got} != {want}")
    )
