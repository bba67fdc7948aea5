"""The benchmark's workloads: what one pass runs and how its outputs are checked.

``etl_dag``  the paper's own surface: the 7-stage parity DAG on the
             seed's CSVs, cold then warm, then the corpus DAG cold, after
             an epoch bump, and warm. Five legs, each one operation.
``queries``  registry queries over the fixed star-schema tables, one
             operation per query, in an order shuffled by the seed. Half
             are shuffle/exec-bound, half are bound by per-job fixed cost
             and jobs launched eagerly while the frame is built.

Each operation starts after ``spark.catalog.clearCache()``. Checks run
after the operation's span has closed, so they are not timed.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil

from pb_etl_spark import corpus_pipeline, pipeline
from pb_etl_spark.plans.stages import Stage, StageRunner
from pb_etl_spark.registry import all_queries

# exec-bound: shuffles, exchanges and persists dominate
SHUFFLE_HEAVY = [
    "substring_dup_spans",
    "entity_golden_record",
]
# driver-bound: an iterative loop of eager checkpoints and RFM, whose cost
# is mostly per-job fixed cost and jobs launched while the frame is built
DRIVER_BOUND = [
    "mmr_diverse_topk",
    "rfm_segments",
]
QUERIES = SHUFFLE_HEAVY + DRIVER_BOUND

PARITY_STAGES = {
    "load_data", "load_test", "norm_denominators", "fit_model",
    "predict", "backtest", "final_results",
}
CORPUS_STAGES = {
    "corpus_curate", "corpus_dedup", "corpus_mixture", "corpus_pack",
    "corpus_shuffle", "corpus_report",
}
EPOCH_STAGES = {"corpus_shuffle", "corpus_report"}


def digest(pdf) -> str:
    """Order-insensitive digest of a result frame."""
    from tools.check_oracle import canon

    return hashlib.sha256(canon(pdf).to_csv(index=False).encode()).hexdigest()[:16]


def _walk(stage: Stage, seen: dict | None = None) -> dict:
    seen = {} if seen is None else seen
    if id(stage) not in seen:
        seen[id(stage)] = stage
        for dep in stage.deps.values():
            _walk(dep, seen)
    return seen


def _traced_stages(terminal: Stage, tracer) -> Stage:
    """Wrap every built ``Stage.fn`` in a span (the salt ignores fn)."""
    for st in _walk(terminal).values():
        inner, name = st.fn, st.name

        def fn(*args, _inner=inner, _name=name):
            with tracer.span(_name, "stage"):
                return _inner(*args)

        st.fn = fn
    return terminal


class _Patched:
    """Span the ML fit and parquet writes as ``pipeline`` binds them."""

    def __init__(self, tracer):
        self.tracer = tracer

    def _wrap(self, fn, name):
        def wrapped(*a, **kw):
            with self.tracer.span(name, "layer"):
                return fn(*a, **kw)

        return wrapped

    def __enter__(self):
        self.saved = {n: getattr(pipeline, n) for n in ("train_model", "write_parquet")}
        if self.tracer.traced:
            pipeline.train_model = self._wrap(self.saved["train_model"], "ml.train_model")
            pipeline.write_parquet = self._wrap(self.saved["write_parquet"], "sources.write_parquet")
        return self

    def __exit__(self, *exc):
        for n, fn in self.saved.items():
            setattr(pipeline, n, fn)


class EtlDag:
    def __init__(self, spark, tracer, sf_dir: str, work: str, parity_in: str, fixture: dict, expected_log: str, seed: int):
        self.spark, self.tracer, self.sf_dir = spark, tracer, sf_dir
        self.work, self.parity_in, self.fixture = work, parity_in, fixture
        self.expected_log, self.seed = expected_log, seed
        self.passes = 0

    def _leg(self, name: str, build, base: str) -> dict:
        self.spark.catalog.clearCache()
        runner = StageRunner(self.spark, base)
        terminal = build()
        if self.tracer.traced:
            _traced_stages(terminal, self.tracer)
        with self.tracer.span(name, "op") as op:
            report = runner.run(terminal)
        op.metrics.update(ran=len(runner.ran), skipped=len(runner.skipped))
        return {"op": op, "report": report, "ran": set(runner.ran), "skipped": set(runner.skipped)}

    def run_pass(self) -> list[tuple[object, list[str]]]:
        """One pass: five legs. Returns [(op span, problems)]."""
        self.passes += 1
        parity_dir = os.path.join(self.work, f"parity-{self.passes}")
        corpus_dir = os.path.join(self.work, f"corpus-{self.passes}")
        out = []
        legs = {}
        with _Patched(self.tracer):
            specs = [
                ("parity_cold", lambda: pipeline.build_graph(root=self.parity_in), parity_dir),
                ("parity_warm", lambda: pipeline.build_graph(root=self.parity_in), parity_dir),
                ("corpus_cold", lambda: corpus_pipeline.build_corpus_pipeline(self.sf_dir, epoch=0), corpus_dir),
                ("corpus_epoch", lambda: corpus_pipeline.build_corpus_pipeline(self.sf_dir, epoch=1), corpus_dir),
                ("corpus_warm", lambda: corpus_pipeline.build_corpus_pipeline(self.sf_dir, epoch=1), corpus_dir),
            ]
            for name, build, base in specs:
                n_spans = len(self.tracer.spans)
                try:
                    legs[name] = self._leg(name, build, base)
                except Exception as e:  # noqa: BLE001 - a failed op is counted, the loop goes on
                    op = self.tracer.last_op()
                    # None when the leg failed before its span opened
                    out.append((op if op and op.id >= n_spans else None, [f"{name}: {type(e).__name__}: {e}"]))
                    continue
                out.append((legs[name]["op"], self._check(name, legs)))
        shutil.rmtree(parity_dir, ignore_errors=True)
        shutil.rmtree(corpus_dir, ignore_errors=True)
        return out

    def _check(self, name: str, legs: dict) -> list[str]:
        leg = legs[name]
        ran, skipped, rep = leg["ran"], leg["skipped"], leg["report"]
        p = []
        want = {
            "parity_cold": (PARITY_STAGES, set()),
            "parity_warm": ({"final_results"}, PARITY_STAGES - {"final_results"}),
            "corpus_cold": (CORPUS_STAGES, set()),
            "corpus_epoch": (EPOCH_STAGES, CORPUS_STAGES - EPOCH_STAGES),
            "corpus_warm": ({"corpus_report"}, CORPUS_STAGES - {"corpus_report"}),
        }[name]
        if (ran, skipped) != want:
            p.append(f"{name}: ran {sorted(ran)} skipped {sorted(skipped)}, want {sorted(want[0])} / {sorted(want[1])}")
        if name.startswith("parity"):
            if rep["actual"] != self.fixture["actual_rate"]:
                p.append(f"{name}: actual {rep['actual']!r} != CSV rate {self.fixture['actual_rate']!r}")
            if not (rep["expected"] is not None and 0.0 <= rep["expected"] <= 1.0):
                p.append(f"{name}: expected rate {rep['expected']!r} outside [0, 1]")
            first = legs.get("parity_cold")
            if first and rep["expected"] != first["report"]["expected"]:
                p.append(f"{name}: expected {rep['expected']!r} != cold leg {first['report']['expected']!r}")
            if name == "parity_cold":
                p.extend(self._check_expected_log(rep["expected"]))
        else:
            counts = {k: rep[k] for k in ("n_docs", "n_tokens", "n_packs")}
            if not counts["n_docs"]:
                p.append(f"{name}: empty corpus report {counts}")
            first = legs.get("corpus_cold")
            if first and counts != {k: first["report"][k] for k in counts}:
                p.append(f"{name}: report {counts} != cold leg {first['report']}")
        return p

    def _check_expected_log(self, expected: float) -> list[str]:
        """The model's expected rate for a seed repeats across runs."""
        log = {}
        if os.path.exists(self.expected_log):
            with open(self.expected_log) as fh:
                log = json.load(fh)
        key = f"{self.seed}-{self.fixture['n_train']}-{self.fixture['n_test']}"
        prev = log.get(key)
        if prev is None:
            log[key] = expected
            with open(self.expected_log, "w") as fh:
                json.dump(log, fh)
            return []
        if prev != expected:
            return [f"parity_cold: expected {expected!r} != {prev!r} from an earlier run with this seed"]
        return []


class Queries:
    def __init__(self, spark, tracer, sf_dir: str, oracle_frames: dict, seed: int):
        from tools.check_oracle import compare

        self.spark, self.tracer, self.sf_dir = spark, tracer, sf_dir
        self.oracle, self.compare = oracle_frames, compare
        fns = all_queries()
        self.order = list(QUERIES)
        random.Random(seed).shuffle(self.order)
        self.fns = {n: fns[n] for n in self.order}
        self.digests: dict[str, str] = {}

    def run_pass(self) -> list[tuple[object, list[str]]]:
        out = []
        for name in self.order:
            self.spark.catalog.clearCache()
            try:
                with self.tracer.span(name, "op") as op:
                    with self.tracer.span("build", "operators"):
                        df = self.fns[name](self.spark, self.sf_dir)
                    with self.tracer.span("action", "exec"):
                        pdf = df.toPandas()
            except Exception as e:  # noqa: BLE001 - a failed op is counted, the loop goes on
                out.append((self.tracer.last_op(), [f"{name}: {type(e).__name__}: {e}"]))
                continue
            problems = [f"{name}: {x}" for x in self.compare(name, pdf, self.oracle[name])]
            self.digests[name] = digest(pdf)
            out.append((op, problems))
        return out
