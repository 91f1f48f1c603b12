"""The benchmark's workloads, each a closed loop with one client.

The client is the benchmark process: it sends one operation (an ingest
pass or a query), waits for it, then sends the next.  Every operation
goes through the package's public entry points; the traced variants also
time successive prefix plans and read Spark's event log, so no tracing
lives inside the program.  Output checks run after the timed region."""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time
import traceback
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fluent_bit_clp_spark import datagen
from fluent_bit_clp_spark.functions.clp_native import clp_decode_column
from fluent_bit_clp_spark.operators import search as S
from fluent_bit_clp_spark.operators.chunk import assign_chunks, with_row_bytes
from fluent_bit_clp_spark.operators.enrich import enrich
from fluent_bit_clp_spark.operators.route import with_sink
from fluent_bit_clp_spark.plans import lineage, pipeline
from fluent_bit_clp_spark.sources.msgpack import (
    msgpack_to_transcripts,
    read_msgpack_files,
)
from fluent_bit_clp_spark.sources.tables import JobConfig
from perfbench import oracle
from perfbench.eventlog import (
    ARROW_FROM_PYTHON,
    ARROW_TO_PYTHON,
    PYTHON_RUN,
    EventLog,
)
from perfbench.inputs import QUERY_CLASSES, query_mix, write_msgpack_files
from perfbench.proctree import PeakRss

# Input sizes.  A run (set-up, warm-up, timed region, checks) has to stay
# under ~70 s on a 4-core host so that a full measurement (48 runs) fits
# in 3420 s; these sizes keep a warm ingest pass at 3-6 s on a quiet
# 4-core host and under ~10 s on a contended one.
MSGPACK_FILES = 12
MSGPACK_RECORDS_PER_FILE = 1_000
SEARCH_STORE_TURNS = 20_000
QUERY_ROUNDS = 20  # 6 queries a round -> a 120-query sequence

RUN_ID = "bench"
# Untimed operations before the timed region.  A session's passes keep
# getting faster for ~10 passes as the JVM compiles the hot paths, so a
# stop-when-two-passes-agree rule ends the warm-up too early.  The count is
# fixed, never chosen from how fast the passes run, so that setup_s and the
# warm state of the timed region do not depend on the speed of the code
# under test.
MSGPACK_WARMUP_PASSES = 2
SEARCH_WARMUP_ROUNDS = 2
# Least operations in the timed region, untraced / traced.  The host's
# speed drifts from minute to minute, so ingest spends its run on timed
# passes rather than on more warm-up; the median of four passes also
# absorbs a first timed pass that is still warming.  A traced ingest
# round is three to four passes long.  Untraced search runs whole rounds
# of the query mix, so every class weighs the same in the median.
INGEST_MIN_OPS = (4, 1)
SEARCH_MIN_OPS = (2 * len(QUERY_CLASSES), 3)

E2E_METRICS = {
    "setup_s": "s",
    "turns_per_s": "turns/s",
    "stored_bytes_per_turn": "B",
    "op_p50_ms": "ms",
    "peak_rss_mb": "MB",
}

# A layer that does not run on a workload reports 0.
LAYER_METRICS = {
    "msgpack.decode_s": "s",
    "msgpack.records": "count",
    "msgpack.mb_per_s": "MB/s",
    "msgpack.malformed": "count",
    "route.s": "s",
    "offsets.s": "s",
    "offsets.jobs": "count",
    "offsets.summary_rows": "count",
    "offsets.shuffle_bytes": "B",
    "chunk.s": "s",
    "chunk.shuffle_bytes": "B",
    "chunk.task_skew": "ratio",
    "encode.s": "s",
    "encode.python_s": "s",
    "encode.arrow_bytes_in": "B",
    "encode.arrow_bytes_out": "B",
    "encode.rows_per_s": "rows/s",
    "sink.write_s": "s",
    "sink.post_commit_s": "s",
    "sink.bytes": "B",
    "sink.files": "count",
    "search.template_prune_s": "s",
    "search.vardict_prune_s": "s",
    "search.decode_verify_s": "s",
    "search.candidate_ratio": "ratio",
    "search.verify_yield": "ratio",
    "search.jobs_per_query": "count",
    "search.raw_regex_ms": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.shuffle_bytes": "B",
    "trace.pass_s": "s",
    "trace.unattributed_s": "s",
    "trace.overhead_s": "s",
}

# What a committed store keeps: the sink tables plus their dictionaries.
STORE_PARTS = ("sinks", "logtype_dict", "var_dict", pipeline.ARCHIVE_DICT_DIR)


@dataclass
class Op:
    wall_s: float | None  # None when the call raised
    result: object = None
    peak_rss: int = 0  # largest summed RSS of the process tree during the call
    bad: bool = False
    timed: bool = True  # False: a set-up operation, checked but not timed
    out_dir: str = ""  # ingest: the store this pass committed
    committed: dict | None = None  # ingest: rows per sink, from the manifests


@dataclass
class Outcome:
    """What a workload hands back to ``run.py``."""

    ops: list[Op]
    setup_s: float
    metrics: dict[str, float]
    detail: dict
    layers: Callable[[EventLog], dict[str, float]] | None = None


@dataclass
class Bench:
    spark: SparkSession
    work: str
    seed: int
    seconds: float
    trace: bool
    t_start: float
    rss: PeakRss
    ops: list[Op] = field(default_factory=list)

    def call(self, fn: Callable[[], object], record: bool = True) -> Op:
        self.rss.take()
        t0 = time.perf_counter()
        try:
            result = fn()
        except Exception:
            traceback.print_exc()
            op = Op(None, bad=True)
        else:
            op = Op(time.perf_counter() - t0, result)
        op.peak_rss = self.rss.take()
        if record:
            self.ops.append(op)
        return op

    def group(self, name: str) -> None:
        self.spark.sparkContext.setJobGroup(name, name)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


def fail(op: Op, what: str) -> None:
    op.bad = True
    print(f"perfbench: output check failed: {what}", file=sys.stderr)


def closed_loop(
    seconds: float, min_ops: int, step: Callable[[int], None], unit: int = 1
) -> None:
    """Run ``step(0), step(1), ...`` for ``seconds``, at least ``min_ops``
    times, and stop only after a whole multiple of ``unit`` steps."""
    t_end = time.perf_counter() + seconds
    i = 0
    while i < min_ops or i % unit or time.perf_counter() < t_end:
        step(i)
        i += 1


def noop(df: DataFrame) -> None:
    df.write.mode("overwrite").format("noop").save()


def data_files(path: str) -> list[str]:
    out = []
    for d, _, files in os.walk(path):
        out.extend(
            os.path.join(d, f) for f in files if not f.startswith((".", "_"))
        )
    return out


def store_bytes(out_dir: str) -> int:
    return sum(
        os.path.getsize(f)
        for part in STORE_PARTS
        for f in data_files(os.path.join(out_dir, part))
    )


def committed_rows(out_dir: str) -> dict[str, int]:
    rows = {}
    for sink in lineage.committed_sinks(out_dir, RUN_ID):
        with open(lineage.manifest_path(out_dir, RUN_ID, sink)) as f:
            rows[sink] = json.load(f)["rows"]
    return rows


@contextmanager
def around(module, name: str, before: Callable[[], None], after: Callable[[object], None]):
    """Time a package function from outside by swapping the module
    attribute its callers look up for a wrapper, for the ``with`` body."""
    original = getattr(module, name)

    def wrapper(*args, **kwargs):
        before()
        result = original(*args, **kwargs)
        after(result)
        return result

    setattr(module, name, wrapper)
    try:
        yield
    finally:
        setattr(module, name, original)


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


# ---------------------------------------------------------------------------
# ingest_msgpack


@dataclass
class MsgpackInput:
    df: DataFrame  # the pipeline input, lazy: every pass re-reads the files
    decoded: DataFrame  # the decoder's output, a prefix of ``df``
    cfg: JobConfig
    input_bytes: int
    generated: dict[str, list[str]]  # file name -> record texts, in order


def _msgpack_input(b: Bench) -> MsgpackInput:
    path = b.path("chunks")
    generated = write_msgpack_files(
        path, b.seed, MSGPACK_FILES, MSGPACK_RECORDS_PER_FILE
    )
    decoded = read_msgpack_files(b.spark, path, ts_mode="v2")
    return MsgpackInput(
        df=msgpack_to_transcripts(decoded),
        decoded=decoded,
        cfg=JobConfig(sink_layout="archive"),
        input_bytes=sum(os.path.getsize(f) for f in data_files(path)),
        generated=generated,
    )


def _decode_mismatches(b: Bench, inp: MsgpackInput, out_dir: str) -> int:
    """Stored rows whose decoded text differs from the generated record
    text, or that exist on one side only, joined on (file, record index)."""
    rows = [
        (name, i, text)
        for name, texts in inp.generated.items()
        for i, text in enumerate(texts)
    ]
    want = b.spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    got = pipeline.load_sinks(b.spark, out_dir, RUN_ID).select(
        F.regexp_extract("conv_id", r"[^/]+$", 0).alias("conv_id"),  # file name
        "turn_idx",
        clp_decode_column(mode=inp.cfg.encoding_mode).alias("decoded"),
    )
    joined = want.join(got, ["conv_id", "turn_idx"], "full_outer")
    return joined.where(~F.col("text").eqNullSafe(F.col("decoded"))).count()


def ingest_msgpack(b: Bench) -> Outcome:
    inp = _msgpack_input(b)
    passes = 0

    def one_pass(record: bool = True) -> Op:
        nonlocal passes
        out_dir = b.path("out", f"p{passes}")
        passes += 1
        op = b.call(lambda: pipeline.run_to_sinks(b.spark, inp.df, out_dir, RUN_ID, inp.cfg), record)
        op.out_dir = out_dir
        if not op.bad:
            op.committed = committed_rows(out_dir)
        return op

    last: list[Op] = []

    def keep_latest(op: Op) -> None:
        # only the newest store stays on disk; older ones are checked already
        for old in last:
            shutil.rmtree(old.out_dir, ignore_errors=True)
        last[:] = [op]

    for _ in range(MSGPACK_WARMUP_PASSES):
        keep_latest(one_pass(record=False))
    setup_s = time.perf_counter() - b.t_start

    traced: list[dict] = []
    plain: list[Op] = []

    def step(i: int) -> None:
        if b.trace:
            b.group(f"t{i}.plain")
        op = one_pass()
        plain.append(op)
        keep_latest(op)
        if b.trace and not op.bad:
            traced.append(_traced_ingest_pass(b, inp, f"t{i}"))

    closed_loop(b.seconds, INGEST_MIN_OPS[b.trace], step)

    # ---- output checks (outside the timed region)
    turns = sum(len(texts) for texts in inp.generated.values())
    # every msgpack stream is a system log, routed to one sink
    sinks = {oracle.route_sink("system", None): turns}
    for op in b.ops:
        if op.bad:
            continue
        ingest_info = op.result["ingest"]
        if ingest_info.get("num_events") != turns:
            fail(op, f"{op.out_dir}: committed {ingest_info.get('num_events')} turns, generated {turns}")
        if ingest_info.get("encode_failures") != 0:
            # a malformed record becomes a turn with null text and timestamp
            fail(op, f"{op.out_dir}: {ingest_info.get('encode_failures')} turns failed to encode")
        if op.committed != sinks:
            fail(op, f"{op.out_dir}: per-sink rows {op.committed} != oracle {sinks}")
    final = next((op for op in reversed(plain) if not op.bad), None)
    stored = 0
    if final is not None:
        bad_rows = _decode_mismatches(b, inp, final.out_dir)
        if bad_rows:
            fail(final, f"{final.out_dir}: {bad_rows} rows decode to text other than the input")
        stored = store_bytes(final.out_dir)
    for span in traced:
        if span and (span["records"], span["malformed"]) != (turns, 0):
            fail(span["op"], f"decoded {span['records']} records ({span['malformed']} malformed), generated {turns}")

    walls = [op.wall_s for op in plain if not op.bad]
    mid = _median(walls)
    metrics = {
        "turns_per_s": turns / mid if mid else 0.0,
        "stored_bytes_per_turn": stored / turns,
        "op_p50_ms": mid * 1000,
        "peak_rss_mb": _median([op.peak_rss for op in plain if not op.bad]) / 2**20,
    }
    detail = {
        "turns_per_pass": turns,
        "warmup_passes": MSGPACK_WARMUP_PASSES,
        "pass_walls_s": walls,
        "stored_bytes": stored,
    }

    def layers(ev: EventLog) -> dict[str, float]:
        out = _ingest_layers(ev, traced, turns, walls)
        if out["msgpack.decode_s"] > 0:
            out["msgpack.mb_per_s"] = inp.input_bytes / out["msgpack.decode_s"] / 1e6
        return out

    return Outcome(list(b.ops), setup_s, metrics, detail, layers if b.trace else None)


def _timed(b: Bench, group: str, fn: Callable[[], object]) -> float:
    b.group(group)
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def _traced_ingest_pass(b: Bench, inp: MsgpackInput, tag: str) -> dict:
    """One traced round: the real ``run_to_sinks`` with its eager calls
    and its main write timed from outside, then the prefix plans that
    split the main write's fused stages."""
    marks: dict[str, object] = {}
    now = time.perf_counter

    def offsets_start():
        marks["a"] = now()
        b.group(f"{tag}.offsets")

    def offsets_end(result):
        marks["b"] = now()
        marks["offsets"] = result
        b.group(f"{tag}.main")

    def committed(_result):
        marks["c"] = now()
        b.group(f"{tag}.post")

    out_dir = b.path("trace", tag)
    with around(pipeline, "write_block_offsets", offsets_start, offsets_end), around(
        lineage, "mark_data_committed", lambda: None, committed
    ):
        b.group(f"{tag}.pre")
        t0 = now()
        op = b.call(lambda: pipeline.run_to_sinks(b.spark, inp.df, out_dir, RUN_ID, inp.cfg))
        t_end = now()
    op.out_dir = out_dir
    if op.bad:
        return {}
    op.committed = committed_rows(out_dir)
    span = {
        "op": op,
        "tag": tag,
        "wall": t_end - t0,
        "offsets": marks["b"] - marks["a"],
        "main": marks["c"] - marks["b"],  # encode plan, data write, data commit
        "post_commit": t_end - marks["c"],
        "sink_bytes": sum(os.path.getsize(f) for f in data_files(os.path.join(out_dir, "sinks"))),
        "sink_files": len(data_files(os.path.join(out_dir, "sinks"))),
    }
    cfg, offs, spark = inp.cfg, marks["offsets"], b.spark

    def route():
        out = pipeline.parse_normalize(inp.df)
        return with_row_bytes(with_sink(enrich(out, spark)))

    def chunk():
        return assign_chunks(
            route(),
            chunk_bytes=cfg.chunk_bytes,
            bin_bytes=cfg.ir_bin_bytes,
            block_turns=cfg.block_turns,
            offsets=offs,
        )

    def encode():
        return pipeline.encode_pipeline(
            inp.df,
            spark,
            chunk_bytes=cfg.chunk_bytes,
            bin_bytes=cfg.ir_bin_bytes,
            block_turns=cfg.block_turns,
            offsets=offs,
            encoding_mode=cfg.encoding_mode,
        )

    def decode():
        row = inp.decoded.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("malformed").cast("long")).alias("bad"),
        ).first()
        span["records"], span["malformed"] = row["n"], row["bad"] or 0

    span["decode"] = _timed(b, f"{tag}.px.decode", decode)
    span["route"] = _timed(b, f"{tag}.px.route", lambda: noop(route()))
    span["chunk"] = _timed(b, f"{tag}.px.chunk", lambda: noop(chunk()))
    span["encode"] = _timed(b, f"{tag}.px.encode", lambda: noop(encode()))
    b.group(f"{tag}.summary")
    span["summary_rows"] = offs.count()
    shutil.rmtree(b.path("trace"), ignore_errors=True)
    return span


def _ingest_layers(ev: EventLog, spans: list[dict], turns: int, plain_walls: list[float]) -> dict[str, float]:
    rows: dict[str, list[float]] = {k: [] for k in LAYER_METRICS}
    for s in spans:
        if not s:
            continue
        t = s["tag"]
        real = (f"{t}.pre", f"{t}.offsets", f"{t}.main", f"{t}.post")
        layer_s = {
            "msgpack.decode_s": s["decode"],
            "route.s": s["route"] - s["decode"],
            "chunk.s": s["chunk"] - s["route"],
            "encode.s": s["encode"] - s["chunk"],
            # the real main write less the prefix that ends at the encoder
            "sink.write_s": s["main"] - s["encode"],
        }
        for k, v in layer_s.items():
            rows[k].append(v)
        python_s = ev.sql_metric(PYTHON_RUN, "ArrowEvalPython", f"{t}.main") / 1000
        values = {
            "msgpack.records": s["records"],
            "msgpack.malformed": s["malformed"],
            "offsets.s": s["offsets"],
            "offsets.jobs": ev.jobs(f"{t}.offsets"),
            "offsets.summary_rows": s["summary_rows"],
            "offsets.shuffle_bytes": ev.shuffle_bytes(f"{t}.offsets"),
            "chunk.shuffle_bytes": ev.shuffle_bytes(f"{t}.main"),
            "chunk.task_skew": ev.task_skew(f"{t}.px.chunk"),
            "encode.python_s": python_s,
            "encode.arrow_bytes_in": ev.sql_metric(ARROW_TO_PYTHON, "ArrowEvalPython", f"{t}.main"),
            "encode.arrow_bytes_out": ev.sql_metric(ARROW_FROM_PYTHON, "ArrowEvalPython", f"{t}.main"),
            "encode.rows_per_s": turns / python_s if python_s > 0 else 0.0,
            "sink.post_commit_s": s["post_commit"],
            "sink.bytes": s["sink_bytes"],
            "sink.files": s["sink_files"],
            "spark.jobs": ev.jobs(*real),
            "spark.stages": ev.stages(*real),
            "spark.tasks": ev.tasks(*real),
            "spark.shuffle_bytes": ev.shuffle_bytes(*real),
            "trace.pass_s": s["wall"],
            # the layer times add up to offsets + main + post_commit; what
            # is left is the pass's start before the offsets job
            "trace.unattributed_s": s["wall"] - (s["offsets"] + s["main"] + s["post_commit"]),
        }
        for k, v in values.items():
            rows[k].append(v)
    out = {k: float(_median(v)) for k, v in rows.items()}
    if rows["trace.pass_s"] and plain_walls:
        out["trace.overhead_s"] = _median(rows["trace.pass_s"]) - _median(plain_walls)
    return out


# ---------------------------------------------------------------------------
# search_mix


def search_mix(b: Bench) -> Outcome:
    spark = b.spark
    in_path, store = b.path("input"), b.path("store")
    datagen.transcripts(
        spark, SEARCH_STORE_TURNS, seed=b.seed, with_edge_rows=False
    ).write.mode("overwrite").parquet(in_path)
    t0 = time.perf_counter()
    pipeline.run_to_sinks(spark, spark.read.parquet(in_path), store, RUN_ID)
    build = Op(time.perf_counter() - t0, timed=False)  # checked, not a sample
    b.ops.append(build)

    def query(q) -> int:
        return pipeline.search_run(spark, store, q, RUN_ID).count()

    for _, q in query_mix(b.seed + 1, SEARCH_WARMUP_ROUNDS):  # another seed's mix
        b.call(lambda: query(q), record=False)
    setup_s = time.perf_counter() - b.t_start

    seq = query_mix(b.seed, QUERY_ROUNDS)
    plain: list[tuple[int, Op]] = []
    traced: list[dict] = []
    raw = spark.read.parquet(in_path).select("text")
    total_rows = sum(committed_rows(store).values())

    def step(i: int) -> None:
        k = i % len(seq)
        q = seq[k][1]
        if b.trace:
            b.group(f"s{i}.plain")
        op = b.call(lambda: query(q))
        plain.append((k, op))
        if b.trace:
            traced.append(_traced_query(b, store, raw, q, k, f"s{i}", total_rows))

    closed_loop(b.seconds, SEARCH_MIN_OPS[b.trace], step, 1 if b.trace else len(QUERY_CLASSES))

    # ---- output checks (outside the timed region)
    raw_cols = pq.read_table(in_path, columns=["role", "tool", "text"]).to_pydict()
    routed = oracle.routed_counts(raw_cols["role"], raw_cols["tool"])
    if committed_rows(store) != routed:
        fail(build, f"store per-sink rows {committed_rows(store)} != oracle {routed}")
    texts = raw_cols["text"]
    expect: dict[int, int] = {}
    checked = [(k, op) for k, op in plain] + [(s["k"], s["op"]) for s in traced]
    for k, op in checked:
        if op.bad:
            continue
        if k not in expect:
            expect[k] = oracle.expected_hits(seq[k][1], texts)
        if op.result != expect[k]:
            fail(op, f"query {seq[k][1]!r}: {op.result} hits, oracle {expect[k]}")
    for s in traced:
        if s.get("raw_hits") is not None and s["raw_hits"] != expect.get(s["k"]):
            fail(s["op"], f"raw regex scan of {seq[s['k']][1]!r}: {s['raw_hits']} hits, oracle {expect.get(s['k'])}")

    lat = [op.wall_s for _, op in plain if not op.bad]
    mid = _median(lat)
    metrics = {
        "turns_per_s": total_rows / mid if mid else 0.0,
        "stored_bytes_per_turn": store_bytes(store) / total_rows,
        "op_p50_ms": mid * 1000,
        "peak_rss_mb": _median([op.peak_rss for _, op in plain if not op.bad]) / 2**20,
    }
    by_class: dict[str, list[float]] = {}
    for k, op in plain:
        if not op.bad:
            by_class.setdefault(seq[k][0], []).append(op.wall_s * 1000)
    detail = {
        "store_turns": total_rows,
        "queries_in_sequence": len(seq),
        "class_p50_ms": {c: statistics.median(v) for c, v in by_class.items()},
    }

    def layers(ev: EventLog) -> dict[str, float]:
        return _search_layers(ev, traced, lat)

    return Outcome(list(b.ops), setup_s, metrics, detail, layers if b.trace else None)


def _traced_query(b: Bench, store: str, raw: DataFrame, q, k: int, tag: str, total_rows: int) -> dict:
    """The real ``search_run`` in its own job group, then (single-string
    queries) the prune prefixes it is built from and a raw-text regex scan
    of the input for reference."""
    spark = b.spark
    b.group(f"{tag}.q")
    op = b.call(lambda: pipeline.search_run(spark, store, q, RUN_ID).count())
    span = {"k": k, "tag": tag, "op": op, "wall": op.wall_s}
    if op.bad or not isinstance(q, str):
        return span
    # The working-layout path of search_run: logtype-dictionary semi-join,
    # then variable predicates, then decode-verify.
    mode = lineage.read_data_marker(store, RUN_ID).get("encoding_mode", "i64")
    tbl = spark.read.parquet(os.path.join(store, "sinks"))
    ld = spark.read.parquet(os.path.join(store, "logtype_dict"))
    vd = spark.read.parquet(os.path.join(store, "var_dict"))
    counts: dict[str, int] = {}

    def template():
        ids = S.logtype_matches(S.compile_relaxed_pattern(q), ld).select("logtype_id")
        return tbl.join(F.broadcast(ids), "logtype_id", "left_semi")

    def variables():
        cand = template()
        for pred in S.compile_var_predicates(q, mode, False, vd):
            cand = cand.where(pred)
        for pred in S.compile_fragment_var_predicates(q, vd):
            cand = cand.where(pred)
        return cand

    def count(name, df_fn):
        counts[name] = df_fn().count()

    span["template"] = _timed(b, f"{tag}.px.template", lambda: count("template", template))
    span["variables"] = _timed(b, f"{tag}.px.variables", lambda: count("variables", variables))
    span["raw"] = _timed(
        b, f"{tag}.px.raw", lambda: count("raw", lambda: raw.where(F.col("text").rlike(S.exact_text_pattern(q))))
    )
    span["candidate_ratio"] = counts["variables"] / total_rows
    span["verify_yield"] = op.result / counts["variables"] if counts["variables"] else None
    span["raw_hits"] = counts["raw"]
    return span


def _search_layers(ev: EventLog, spans: list[dict], plain_lat: list[float]) -> dict[str, float]:
    rows: dict[str, list[float]] = {k: [] for k in LAYER_METRICS}
    for s in spans:
        if s["op"].bad:
            continue
        g = f"{s['tag']}.q"
        rows["search.jobs_per_query"].append(ev.jobs(g))
        rows["spark.jobs"].append(ev.jobs(g))
        rows["spark.stages"].append(ev.stages(g))
        rows["spark.tasks"].append(ev.tasks(g))
        rows["spark.shuffle_bytes"].append(ev.shuffle_bytes(g))
        rows["trace.pass_s"].append(s["wall"])
        if "template" not in s:
            continue
        rows["search.template_prune_s"].append(s["template"])
        rows["search.vardict_prune_s"].append(s["variables"] - s["template"])
        rows["search.decode_verify_s"].append(s["wall"] - s["variables"])
        rows["search.candidate_ratio"].append(s["candidate_ratio"])
        if s["verify_yield"] is not None:
            rows["search.verify_yield"].append(s["verify_yield"])
        rows["search.raw_regex_ms"].append(s["raw"] * 1000)
    out = {k: float(_median(v)) for k, v in rows.items()}
    if rows["trace.pass_s"] and plain_lat:
        out["trace.overhead_s"] = _median(rows["trace.pass_s"]) - _median(plain_lat)
    return out


WORKLOADS = {
    "ingest_msgpack": ingest_msgpack,
    "search_mix": search_mix,
}
