"""Benchmark workloads. Each one generates its inputs from the run seed,
warms up, prepares its output checks and measures; see METRICS.md for why
each exists and which layers it stresses."""

from __future__ import annotations

from .. import gen, stats
from ..harness import Ctx, median_layers, timed_passes
from ..trace import Tracer


class Workload:
    name = ""
    streaming = False
    #: per-layer metric name -> unit, reported from the traced run
    LAYERS: dict[str, str] = {}
    #: input size per size class
    SIZES: dict[str, dict] = {}

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.size = self.SIZES[ctx.size]
        self.off = Tracer(ctx.run_id, enabled=False)
        self.checking = False  # output checks start once prepare() built them

    @property
    def spark(self):
        return self.ctx.spark

    def generate(self, out_dir: str) -> gen.Inputs:
        raise NotImplementedError

    def digest(self, inputs: gen.Inputs) -> str:
        return gen.dir_digest(inputs.dir)

    def warmup(self, inputs: gen.Inputs) -> None:
        raise NotImplementedError

    def prepare(self, inputs: gen.Inputs) -> None:
        """Build the output checks (ground truth, DuckDB answers); untimed."""
        self.build_checks(inputs)
        self.checking = True

    def build_checks(self, inputs: gen.Inputs) -> None:
        pass

    def measure(self, inputs: gen.Inputs) -> dict:
        raise NotImplementedError

    def close(self) -> None:
        pass


class BatchWorkload(Workload):
    """A pass runs the whole pipeline once and verifies its output;
    ``run_pass(tracer)`` returns per-layer metrics, or None when an output
    check fails (see ``harness.timed_passes``)."""

    def run_pass(self, tr: Tracer) -> dict | None:
        raise NotImplementedError

    def e2e(self, pass_times: list[float]) -> dict:
        p50 = stats.median(pass_times)
        return {
            "rows_per_s": (self.inputs.total_rows / p50, "rows/s"),
            "latency_p50_ms": (p50 * 1e3, "ms"),
        }

    def warmup(self, inputs: gen.Inputs) -> None:
        self.inputs = inputs
        self.run_pass(self.off)

    def measure(self, inputs: gen.Inputs) -> dict:
        """Untraced run: passes for the whole run time. Traced run: untraced
        and traced passes alternate (at least one each); the difference of
        their medians is the tracing overhead."""
        ctx = self.ctx
        self.inputs = inputs
        if not ctx.trace:
            times, _, att, fail = timed_passes(lambda: self.run_pass(self.off), ctx.seconds)
            out = {"e2e": self.e2e(times), "pass_s": {**stats.summary(times), "all": times}}
        else:
            order: list[bool] = []

            def alternate():
                order.append(len(order) % 2 == 1)
                res = self.run_pass(ctx.tracer if order[-1] else self.off)
                return None if res is None else {**res, "_traced": order[-1]}

            all_t, outs, att, fail = timed_passes(alternate, ctx.seconds)
            times = [t for t, o in zip(all_t, outs) if not o["_traced"]]
            traced = [(t, o) for t, o in zip(all_t, outs) if o.pop("_traced")]
            out = {"e2e": self.e2e(times), "pass_s": {**stats.summary(times), "all": times},
                   "layers": median_layers([o for _, o in traced])}
            out["layers"]["trace.overhead_s"] = stats.median([t for t, _ in traced]) - stats.median(times)
        out.update(attempted=att, failed=fail, checks=self.checks())
        return out

    def checks(self) -> dict:
        return {}


def _registry() -> dict[str, type[Workload]]:
    from .event_stream import EventStream
    from .llm_corpus import LlmCorpus
    from .warehouse_sql import WarehouseSql

    return {w.name: w for w in (WarehouseSql, LlmCorpus, EventStream)}


WORKLOADS = _registry()
