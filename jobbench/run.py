"""Job benchmark for kgnorm: the ``python -m kgnorm.job`` path, in-process.

Usage, from the root of a checkout::

    python3 jobbench/run.py --workload dup_batch --seed 1 --seconds 10 --trace 0

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
table of one traced pass, and ``--corrupt`` drops one emitted triple
before the check, which must then fail.  The last line of stdout is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``; progress
and load-generator timings go to stderr.  See README.md in this
directory for the workloads, metrics and cost model.
"""

from __future__ import annotations

import argparse
import collections
import contextlib
import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4
DRIVER_MEM = "2g"  # KGNORM_DRIVER_MEM; the library default (20g) exceeds a 15 GB box
SAMPLE_CONVS = 40  # conversations per pass compared with the reference
TIME_CAP_S = 150   # no pass starts that would end later than this after launch

WORKLOADS = {
    "dup_batch": {"kind": "batch", "turns": 60_000},
    "distinct_batch": {"kind": "batch", "turns": 32_000},
    "append_delta": {"kind": "append", "base_convs": 5_000,
                     "delta_old": 250, "delta_old_turns": 4, "delta_new": 125},
}
WARMUP_TURNS = 4_000

END_TO_END = {
    "turns_per_s": "1/s", "cpu_ms_per_turn": "ms", "bytes_written_per_turn": "B",
    "setup_s": "s", "peak_rss_mb": "MB",
}
PER_LAYER = {
    "setup.spark_s": "s", "setup.warmup_s": "s",
    "ontology.load_s": "s", "ontology.broadcast_s": "s",
    "extract.wall_s": "s", "extract.cpu_s": "s", "extract.spark_jobs": "count",
    "extract.task_skew": "ratio", "extract.failed_tasks": "count",
    "extract.kernel_us_per_text": "us", "extract.distinct_text_ratio": "ratio",
    "extract.mentions_per_turn": "ratio", "extract.scaling_eff": "ratio",
    "link.wall_s": "s", "link.cpu_s": "s", "link.spark_jobs": "count", "link.shuffle_bytes": "B",
    "facts.wall_s": "s", "facts.cpu_s": "s", "facts.spark_jobs": "count",
    "facts.shuffle_bytes": "B", "facts.spill_bytes": "B", "facts.task_skew": "ratio",
    "facts.dedup_ratio": "ratio",
    "graph.wall_s": "s", "graph.cpu_s": "s", "graph.spark_jobs": "count",
    "graph.shuffle_bytes": "B", "graph.spill_bytes": "B", "graph.task_skew": "ratio",
    "canon.wall_s": "s", "canon.cpu_s": "s", "canon.spark_jobs": "count",
    "canon.shuffle_bytes": "B", "canon.mapping_s": "s", "canon.cc_jobs": "count",
    "metrics.wall_s": "s", "metrics.cpu_s": "s", "metrics.spark_jobs": "count",
    "checkpoints.bytes_written": "B", "checkpoints.files_written": "count",
    "checkpoints.resume_s": "s",
    "append.upsert_s": "s", "append.triples_s": "s", "append.spark_jobs": "count",
    "append.cpu_s": "s", "append.buckets_rewritten_frac": "ratio", "append.write_amp": "ratio",
    "pass.spark_jobs": "count", "pass.core_util": "ratio", "pass.driver_gap_s": "s",
    "trace.overhead_frac": "ratio", "trace.unattributed_frac": "ratio",
}


def log(msg: str) -> None:
    print(f"[jobbench] {msg}", file=sys.stderr, flush=True)


def data_files(root: str) -> dict[str, int]:
    """Committed output files under ``root`` (relative path → bytes):
    part files only, not ``_SUCCESS`` markers or ``.crc`` checksums."""
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            if not n.startswith((".", "_")):
                p = os.path.join(d, n)
                out[os.path.relpath(p, root)] = os.path.getsize(p)
    return out


class Bench:
    def __init__(self, args, work: str) -> None:
        self.args, self.work = args, work
        self.cfg = WORKLOADS[args.workload]
        self.rng = random.Random(args.seed)
        self.op_path = os.path.join(work, "out", "op")
        self.tracer = None
        self.spark = None

    # -- set-up ---------------------------------------------------------

    def start(self) -> None:
        from kgnorm import ontology, session, synth
        from kgnorm.ac import build_automaton

        from gen import Generator

        t0 = time.perf_counter()
        extra = {
            "spark.ui.enabled": "true" if self.args.trace else "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }
        self.spark = session.get_spark("kgnorm-jobbench", master=f"local[{CORES}]",
                                       shuffle_partitions=2 * CORES, extra_conf=extra)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark_s = time.perf_counter() - t0

        ont = ontology.load_fixture_ontology()
        self.automaton = build_automaton(ont.dictionary)
        self.templates = synth.note_templates()
        self.gen = Generator(self.templates, [k for k, _ in ont.dictionary])

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def write_input(self, name: str, turns) -> str:
        t0 = time.perf_counter()
        p = self.path("in", name)
        turns.write(p)
        log(f"generated {name}: {len(turns)} turns in {time.perf_counter() - t0:.2f}s")
        return p

    # -- the CLI's job path ---------------------------------------------

    def _span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def batch_job(self, input_dir: str, out_dir: str, store=None, resume: bool = False) -> dict:
        """What ``python -m kgnorm.job --input I --output O --canonicalize``
        does after building its session."""
        from kgnorm import job, metrics
        from kgnorm.checkpoints import StageStore

        from check import CheckFailed

        with self._span("job/read"):
            transcripts = self.spark.read.parquet(input_dir)
        with self._span("metrics/turn_order_check"):
            if metrics.turn_order_check(transcripts):
                raise CheckFailed("duplicate (conv_id, turn_idx) keys")
        out = job.run_pipeline(self.spark, transcripts, store=store or StageStore(out_dir),
                               resume=resume, canonicalize=True)
        with self._span("metrics/mention_span_check"):
            violations = metrics.mention_span_check(transcripts, out["mentions"])
        with self._span("job/report"):
            return {"out": out, "turns": transcripts.count(),
                    "triples": out["triples"].count(), "span_violations": violations}

    def append_job(self, input_dir: str, out_dir: str) -> dict:
        """What ``python -m kgnorm.job --input I --output O --append`` does."""
        from kgnorm import job, metrics

        from check import CheckFailed

        with self._span("job/read"):
            transcripts = self.spark.read.parquet(input_dir)
        with self._span("metrics/turn_order_check"):
            if metrics.turn_order_check(transcripts):
                raise CheckFailed("duplicate (conv_id, turn_idx) keys")
        with self._span("append/run_append"):
            out = job.run_append(self.spark, transcripts, out_dir)
        with self._span("metrics/mention_span_check"):
            violations = metrics.mention_span_check(transcripts, out["mentions"])
        out["mentions"].unpersist()
        with self._span("job/report"):
            return {"out": out, "turns": transcripts.count(),
                    "facts": out["facts"].count(), "triples": out["triples"].count(),
                    "span_violations": violations}

    # -- workloads ------------------------------------------------------

    def prepare(self) -> None:
        """Set-up (timed as setup_s) and input generation (logged apart)."""
        a, cfg = self.args, self.cfg
        t_setup = time.perf_counter()
        self.start()
        gen_s = 0.0
        t = time.perf_counter()
        if cfg["kind"] == "batch":
            make = self.gen.dup_batch if a.workload == "dup_batch" else self.gen.distinct_batch
            self.turns = make(a.seed, cfg["turns"])
            self.input_dir = self.write_input("main", self.turns)
            warm_dir = self.write_input("warm", make(a.seed + 1_000_003, WARMUP_TURNS))
            gen_s = time.perf_counter() - t
            t = time.perf_counter()
            self.batch_job(warm_dir, self.path("out", "warm"))
            self.warmup_s = time.perf_counter() - t
        else:
            self.base = self.gen.append_base(a.seed, cfg["base_convs"])
            self.turns = self.gen.append_delta(a.seed + 1, self.base, cfg["delta_old"],
                                               cfg["delta_old_turns"], cfg["delta_new"])
            base_in = self.write_input("base", self.base)
            self.input_dir = self.write_input("delta", self.turns)
            gen_s = time.perf_counter() - t
            t = time.perf_counter()
            self.append_job(base_in, self.path("base"))
            for _ in range(2):  # one warm-up delta leaves the first timed one ~15% slow
                self.append_op(warm=True)
            self.warmup_s = time.perf_counter() - t
        self.setup_s = time.perf_counter() - t_setup - gen_s
        log(f"setup {self.setup_s:.2f}s (spark {self.spark_s:.2f}s, warm-up {self.warmup_s:.2f}s); "
            f"input generation {gen_s:.2f}s, not counted")
        t = time.perf_counter()
        self.prepare_check()
        log(f"reference computed in {time.perf_counter() - t:.2f}s")

    def prepare_check(self) -> None:
        from check import expected_triple_count, reference_triples, text_triples

        template_triples = [text_triples(t, self.automaton) for t in self.templates]
        if self.cfg["kind"] == "batch":
            everything = self.turns
            by_conv = everything.conv_templates()
            sizes = collections.Counter(everything.conv_ids)
            sample = set(self.rng.sample(sorted(by_conv), min(SAMPLE_CONVS, len(by_conv))))
            sample.add(max(sizes, key=sizes.get))  # the largest conversation
        else:
            everything = self.base + self.turns
            by_conv = everything.conv_templates()
            old = sorted(set(self.turns.conv_ids) & set(self.base.conv_ids))
            new = sorted(set(self.turns.conv_ids) - set(self.base.conv_ids))
            untouched = sorted(set(self.base.conv_ids) - set(self.turns.conv_ids))
            k = SAMPLE_CONVS // 4
            sample = set(self.rng.sample(old, 2 * k) + self.rng.sample(new, k)
                         + self.rng.sample(untouched, k))
            self.expected_facts, self.expected_triples = self.batch_reference(sample)
        self.sample = sorted(sample)
        self.reference = reference_triples(everything.turns_of(sample), self.automaton)
        self.expected_count = expected_triple_count(by_conv, template_triples)

    def batch_reference(self, sample: set[str]):
        """Facts and triples of a batch run over every turn of ``sample``."""
        from pyspark.sql import functions as F

        from kgnorm import facts, graph, link, ontology
        from kgnorm.extract import extract_mentions_df

        spark, ont = self.spark, ontology.load_fixture_ontology()
        turns = spark.read.parquet(self.path("in", "base"), self.input_dir).filter(
            F.col("conv_id").isin(sorted(sample)))
        m = extract_mentions_df(turns, ontology.broadcast_dictionary(spark, ont))
        c = link.link_mentions(m, ontology.concepts_df(spark, ont), ontology.synonyms_df(spark, ont),
                               assume_all_direct=ontology.all_entries_linked(ont))
        f = facts.build_facts(facts.mention_facts_input(m, link.top_candidates(c))).persist()
        want = (fact_rows(f), triple_rows(graph.build_triples(f)))
        f.unpersist()
        return want

    def check(self, res: dict) -> None:
        from pyspark.sql import functions as F

        from check import same

        out = res["out"]
        triples = out["triples"].filter(F.col("conv_id").isin(self.sample))
        rows = triple_rows(triples)
        if self.args.corrupt:
            rows.discard(min(rows))
        same("sampled triples vs single-node reference",
             {(r[1], r[2], r[3]) for r in rows}, self.reference)
        same("triple rows", res["triples"], self.expected_count)
        same("span violations", res["span_violations"], 0)
        same("input turns", res["turns"], len(self.turns))
        if self.cfg["kind"] == "append":
            same("sampled triples vs batch run", rows, self.expected_triples)
            same("sampled facts vs batch run",
                 fact_rows(out["facts"].filter(F.col("conv_id").isin(self.sample))),
                 self.expected_facts)

    # -- one timed operation --------------------------------------------

    def op_dir(self) -> str:
        d = self.op_path
        shutil.rmtree(d, ignore_errors=True)
        if self.cfg["kind"] == "append":
            shutil.copytree(self.path("base"), d)
        return d

    def append_op(self, warm: bool = False) -> dict:
        d = self.op_dir()
        return self.timed(lambda: self.append_job(self.input_dir, d), d, data_files(d), warm)

    def batch_op(self, store=None) -> dict:
        d = self.op_dir()
        return self.timed(lambda: self.batch_job(self.input_dir, d, store), d, {}, False)

    def timed(self, fn, d: str, before: dict, warm: bool) -> dict:
        from proc import tree_cpu_s

        traced = self.tracer.traced_pass() if self.tracer else contextlib.nullcontext()
        with traced:
            c0, t0 = tree_cpu_s(), time.perf_counter()
            res = fn()
            res["wall_s"] = time.perf_counter() - t0
            res["cpu_s"] = tree_cpu_s() - c0
        after = data_files(d)
        new = {k: v for k, v in after.items() if k not in before}
        res["bytes_written"] = sum(new.values())
        res["files_written"] = len(new)
        res["store_bytes"] = sum(after.values())
        res["buckets"] = {k.split(os.sep)[1] for k in after if "_bucket=" in k}
        res["buckets_rewritten"] = {k.split(os.sep)[1] for k in new if "_bucket=" in k}
        if not warm:
            from check import CheckFailed

            try:
                self.check(res)
            except CheckFailed as e:
                res["error"] = str(e)
                log(f"check failed: {e}")
        return res

    def run_op(self, store=None) -> dict:
        return self.append_op() if self.cfg["kind"] == "append" else self.batch_op(store)

    # -- modes ----------------------------------------------------------

    def measure(self, budget_s: float, t_launch: float) -> tuple[list[dict], int]:
        """Operations back to back until their timed wall time would pass
        ``budget_s`` (at least one).  Untimed copying and checking are left
        out, so the operation count does not hinge on them."""
        done, failed, timed_s = [], 0, 0.0
        while True:
            t = time.perf_counter()
            try:
                res = self.run_op()
            except Exception:
                res = {"error": traceback.format_exc()}
                log("operation failed:\n" + res["error"])
            if "error" in res:
                failed += 1
            else:
                done.append(res)
            last = res.get("wall_s", time.perf_counter() - t)
            timed_s += last
            if (timed_s + last > budget_s
                    or time.perf_counter() - t_launch + last > TIME_CAP_S):
                return done, failed

    def end_to_end(self, t_launch: float) -> dict:
        from proc import tree_peak_rss_mb

        ops, failed = self.measure(self.args.seconds, t_launch)
        n = len(self.turns)
        for o in ops:
            log(f"op: {o['wall_s']:.2f}s wall, {o['cpu_s']:.2f} CPU-s, "
                f"{o['bytes_written']} B in {o['files_written']} files")
        metrics = {}
        if ops:
            metrics = {
                "turns_per_s": statistics.median(n / o["wall_s"] for o in ops),
                "cpu_ms_per_turn": statistics.median(1000 * o["cpu_s"] / n for o in ops),
                "bytes_written_per_turn": statistics.median(o["bytes_written"] / n for o in ops),
                "setup_s": self.setup_s,
                "peak_rss_mb": tree_peak_rss_mb(),
            }
        return result(len(ops) + failed, failed, metrics, END_TO_END)

    def traced(self, t_launch: float) -> dict:
        """One untraced op, one traced op, then the resume and scaling legs."""
        from check import CheckFailed
        from spans import TracingStore, Tracer, layer_metrics

        plain = self.run_op()
        tracer = self.tracer = Tracer(self.spark.sparkContext, "traced")
        store = TracingStore(self.op_path, tracer) if self.cfg["kind"] == "batch" else None
        try:
            with tracer.patched():
                res = self.run_op(store)
        finally:
            self.tracer = None
        m = {k: 0.0 for k in PER_LAYER}
        m.update({k: v for k, v in layer_metrics(self.spark.sparkContext, tracer, CORES).items()
                  if k in PER_LAYER or k == "pass.wall_s"})
        m["trace.overhead_frac"] = m.pop("pass.wall_s") / plain["wall_s"] - 1
        spans = {}
        for s in tracer.spans:
            spans.setdefault(s.name, []).append(s)
        m["ontology.load_s"] = sum(s.wall_s for s in spans.get("ontology/load", []))
        m["ontology.broadcast_s"] = sum(s.wall_s for s in spans.get("ontology/broadcast", []))
        m["setup.spark_s"], m["setup.warmup_s"] = self.spark_s, self.warmup_s
        self.input_stats(m, res)
        ops = [plain, res]
        if self.cfg["kind"] == "batch":
            m["checkpoints.bytes_written"] = res["bytes_written"]
            m["checkpoints.files_written"] = res["files_written"]
            try:
                m["checkpoints.resume_s"] = self.resume_leg()
                ops.append({})
            except CheckFailed as e:
                ops.append({"error": str(e)})
                log(f"check failed: {e}")
            m["facts.dedup_ratio"] = res["n_facts"] / max(1, res["n_mentions"])
            m["extract.scaling_eff"] = self.scaling_leg()
        else:
            run = spans["append/run_append"][0]
            children = [s for s in tracer.spans if s.parent == "append/run_append"]
            m["append.upsert_s"] = sum(s.wall_s for s in spans.get("append/upsert", []))
            m["append.triples_s"] = run.wall_s - sum(s.wall_s for s in children)
            m["append.buckets_rewritten_frac"] = len(res["buckets_rewritten"]) / len(res["buckets"])
            total_turns = len(self.base) + len(self.turns)
            m["append.write_amp"] = res["bytes_written"] / (
                res["store_bytes"] * len(self.turns) / total_turns)
        return result(len(ops), sum("error" in r for r in ops), m, PER_LAYER)

    def input_stats(self, m: dict, res: dict) -> None:
        """Counters read from the op's outputs and inputs, plus the
        single-thread extraction kernel cost per distinct text."""
        from kgnorm import rules

        mentions = res["out"]["mentions"].count()
        res["n_mentions"] = mentions
        if self.cfg["kind"] == "batch":
            res["n_facts"] = res["out"]["facts"].count()
        texts = self.turns.texts
        distinct = list(dict.fromkeys(texts))
        m["extract.distinct_text_ratio"] = len(distinct) / len(texts)
        m["extract.mentions_per_turn"] = mentions / len(texts)
        sample = (distinct * (1 + 300 // len(distinct)))[:300]
        t0 = time.perf_counter()
        for text in sample:
            rules.extract_mentions(text, self.automaton)
        m["extract.kernel_us_per_text"] = (time.perf_counter() - t0) / len(sample) * 1e6

    def resume_leg(self) -> float:
        """``run_pipeline(resume=True)`` over the finished store; the
        triples must be identical."""
        from check import same

        def digest():
            return tuple(self.spark.read.parquet(os.path.join(self.op_path, "triples")).selectExpr(
                "count(*)", "bit_xor(xxhash64(subj, pred, obj, assertion))").first())

        before = digest()
        t0 = time.perf_counter()
        self.batch_job(self.input_dir, self.op_path, resume=True)
        resume_s = time.perf_counter() - t0
        same("triples after resume", digest(), before)
        log(f"resume leg: {resume_s:.2f}s, triples identical")
        return resume_s

    def scaling_leg(self) -> float:
        """Extraction alone at 1 and at 4 task slots over the op's input:
        T1 / (4 · T4)."""
        from kgnorm import extract, ontology

        src = self.spark.read.parquet(self.input_dir).repartition(2 * CORES).persist()
        src.count()
        d = ontology.broadcast_dictionary(self.spark, ontology.load_fixture_ontology())

        def leg(slots: int) -> float:
            t0 = time.perf_counter()
            (extract.extract_mentions_df(src, d, num_partitions=slots)
             .write.format("noop").mode("overwrite").save())
            return time.perf_counter() - t0

        t1, t4 = leg(1), leg(CORES)  # the kernel is warm from the passes
        src.unpersist()
        log(f"scaling leg: 1 slot {t1:.2f}s, {CORES} slots {t4:.2f}s")
        return t1 / (CORES * t4)

    def close(self) -> None:
        from pyspark import SparkContext

        from proc import reap, tree_pids

        pids = [p for p in tree_pids() if p != os.getpid()]
        try:
            if self.spark is not None:
                self.spark.stop()
        finally:
            gw = SparkContext._gateway
            if gw is not None and gw.proc is not None:
                gw.proc.stdin.close()  # the JVM exits when its stdin closes
            reap(pids)


def fact_rows(df) -> set:
    return {(r.conv_id, r.omop_concept_id, r.assertion, r.temporality, r.experiencer,
             r.concept_name, r.domain, round(r.confidence, 6), r.evidence_count,
             r.first_turn_idx, r.first_start_offset) for r in df.collect()}


def triple_rows(df) -> set:
    return {(r.conv_id, r.subj, r.pred, r.obj, r.assertion) for r in df.collect()}


def result(attempted: int, failed: int, metrics: dict, units: dict) -> dict:
    return {
        "correct": failed == 0 and attempted > 0 and set(metrics) == set(units),
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def main() -> int:
    t_launch = time.perf_counter()
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--corrupt", action="store_true",
                   help="self-test: drop one emitted triple before the check")
    args = p.parse_args()

    missing = [f for f in ("src/kgnorm/job.py", "data/synthetic_notes.json")
               if not os.path.isfile(os.path.join(ROOT, f))]
    if missing:
        log(f"not a kgnorm checkout (missing {', '.join(missing)}): {ROOT}")
        return 2

    work = os.path.join(ROOT, ".jobbench_work", str(os.getpid()))
    for sub in ("tmp", "local", "in", "out"):
        os.makedirs(os.path.join(work, sub))
    # every scratch file of the run — Python, JVM and Spark shuffle — lands
    # in the work dir, which is deleted at exit
    os.environ.update({
        "TMPDIR": os.path.join(work, "tmp"),
        # every JVM, the launcher's too: no /tmp/hsperfdata, temp files here
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "KGNORM_DRIVER_MEM": DRIVER_MEM,
        "KGNORM_LOCAL_DIR": os.path.join(work, "local"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "PYSPARK_PYTHON": sys.executable,
    })
    sys.path[:0] = [HERE, os.path.join(ROOT, "src")]
    from kgnorm import session

    # the library's default local dir is a shared tmpfs path it creates
    # even when KGNORM_LOCAL_DIR is set; keep this run out of it
    session._local_dir = lambda: os.path.join(work, "local")

    bench = Bench(args, work)
    try:
        bench.prepare()
        out = bench.traced(t_launch) if args.trace else bench.end_to_end(t_launch)
    finally:
        bench.close()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
