"""What one run reports: checks, operation counts and metrics."""

from __future__ import annotations

import json
import sys

# Every workload prints every metric, so the names are shared: a
# layer a workload never enters reads 0.  Order is the print order.
END_TO_END = {
    "setup_s": "s",
    "op_s": "s",
    "cpu_s_per_op": "s",
}
STREAM_LAYERS = {
    "trigger.offsets_s": "s",
    "trigger.planning_s": "s",
    "trigger.commit_s": "s",
    "trigger.add_batch_s": "s",
    "window.apply_s": "s",
    "sink.write_s": "s",
    "sink.attempts": "count",
    "state.rows": "count",
    "state.bytes": "bytes",
}
COMMON_LAYERS = {
    "spark.executor_cpu_s_per_op": "s",
    "spark.jobs_per_op": "count",
    "spark.shuffle_bytes_per_op": "bytes",
}
QUERY_LAYER_UNITS = {
    "s": "s",
    "build_s": "s",
    "jobs": "count",
    "cpu_s": "s",
    "executor_cpu_s": "s",
    "shuffle_bytes": "bytes",
    "scan_rows": "count",
}


def per_layer(queries) -> dict[str, str]:
    out = dict(COMMON_LAYERS)
    out.update(STREAM_LAYERS)
    for q in queries:
        for suffix, unit in QUERY_LAYER_UNITS.items():
            out[f"{q}.{suffix}"] = unit
    return out


class Result:
    def __init__(self) -> None:
        self.problems: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.setup_s = 0.0
        self.setup_wall_s = 0.0
        self.metrics: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.notes: dict[str, object] = {}

    def problem(self, msg: str) -> None:
        self.problems.append(msg)

    def attempt(self, n: int, failed: int = 0) -> None:
        self.attempted += n
        self.failed += failed

    def setup(self, sw, less_s: float = 0.0) -> None:
        """Add the phase ``sw`` timed, less ``less_s`` of it that was
        not set-up, to ``setup_s``."""
        self.setup_s += sw.time_s() - less_s
        self.setup_wall_s += sw.wall_s() - less_s

    def metric(self, name: str, value: float) -> None:
        self.metrics[name] = value

    def layer(self, name: str, value: float) -> None:
        self.layers[name] = value

    def note(self, name: str, value) -> None:
        self.notes[name] = value

    @property
    def correct(self) -> bool:
        return not self.problems

    def emit(self, trace: bool, layer_units: dict[str, str]) -> None:
        """Problems and notes to stderr, then the result line."""
        for p in self.problems:
            print(f"CHECK FAILED: {p}", file=sys.stderr)
        self.metrics["setup_s"] = self.setup_s
        self.notes["setup_wall_s"] = self.setup_wall_s
        if trace:  # for the tracing overhead: traced vs untraced runs
            self.notes["end_to_end"] = self.metrics
        print(f"notes: {json.dumps(self.notes, default=str)}", file=sys.stderr)
        if trace:
            names = layer_units
            values = {n: self.layers.get(n, 0) for n in names}
        else:
            names = END_TO_END
            values = {n: self.metrics.get(n, 0) for n in names}
        print(
            json.dumps(
                {
                    "correct": self.correct,
                    "attempted": self.attempted,
                    "failed": self.failed,
                    "metrics": {
                        n: {"value": values[n], "unit": names[n]} for n in names
                    },
                }
            ),
            flush=True,
        )
