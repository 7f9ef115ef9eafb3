"""Spans recorded around calls into the program's layers.

A span has a name, start, end, parent span and run id. Spans live in memory
and are written out once, when the traced run ends. A span opened with a
``group`` also tags every Spark job started inside it with that job group, so
the event log (see eventlog.py) attributes task time, shuffle and spill to the
same layer.

``instrumented`` measures ``run_pipeline`` from outside: it swaps the layer
functions the pipeline calls for wrappers that open a span, call the original,
and materialize its DataFrame inside the span (persist + count), so each
layer's cost lands in its own span instead of in whichever later action
happens to run it. A checkpoint read is materialized the same way, so the
resume's scan of the checkpoint files is inside ``checkpoint.read``. The persist and count are tracing overhead; the traced
run reports it as the gap to an untraced pass.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

LAYERS = (
    "signature_stage",
    "lsh.candidates",
    "lsh.verify",
    "ccomp",
    "emtree.fit",
    "emtree.assign",
    "checkpoint",
)


class Tracer:
    def __init__(self, run_id: str, spark_context):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._sc = spark_context

    def _set_group(self, group: str | None) -> None:
        if group is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(group, group)

    def _current_group(self) -> str | None:
        for sid in reversed(self._stack):
            if self.spans[sid]["group"] is not None:
                return self.spans[sid]["group"]
        return None

    @contextmanager
    def span(self, name: str, group: str | None = None, **attrs):
        """Time a block. ``group`` (a layer name) also becomes the Spark job group
        for the block; without it the enclosing span's group stays in force."""
        rec = {
            "id": len(self.spans),
            "name": name,
            "group": group,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        if group is not None:
            self._set_group(group)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if group is not None:
                self._set_group(self._current_group())

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["end"] is not None]

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.by_name(name))

    def self_times(self) -> dict[str, float]:
        """Span duration minus the time its child spans cover, summed per name."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out = defaultdict(float)
        for s in self.spans:
            if s["end"] is not None:
                out[s["name"]] += s["end"] - s["start"] - child[s["id"]]
        return dict(out)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1, default=str)


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


@contextmanager
def instrumented(tracer: Tracer):
    """Patch the layer functions ``run_pipeline`` reaches so each call is a span.

    Restores every original and drops every DataFrame it persisted on exit.
    """
    import lmw_tree_spark.plans.pipeline as pipeline
    from lmw_tree_spark.operators import emtree, lsh
    from lmw_tree_spark.plans.checkpoint import Checkpointer

    persisted = []

    def materialized(name, fn, extra=None, group=None):
        def wrapper(*args, **kwargs):
            with tracer.span(name, group=group or name) as rec:
                df = fn(*args, **kwargs).persist()
                persisted.append(df)
                rec["rows"] = df.count()
                if extra is not None:
                    extra(df, rec)
            return df

        return wrapper

    def timed(name, fn, group=None, after=None):
        def wrapper(*args, **kwargs):
            with tracer.span(name, group=group) as rec:
                out = fn(*args, **kwargs)
            if after is not None:
                after(args, out, rec)
            return out

        return wrapper

    def count_verified(df, rec):
        rec["verified"] = df.where("is_dup").count()

    def fit_stats(args, fit, rec):
        rec["iterations"] = len(fit.metrics)
        rec["objects"] = rec["rows"] = fit.metrics[-1]["objects"] if fit.metrics else 0
        rec["leaves"] = fit.tree.n_leaves
        rec["rmse"] = fit.metrics[-1]["rmse"] if fit.metrics else 0.0

    def checkpoint_bytes(args, out, rec):
        ckpt, stage = args[0], args[1]
        rec["stage"] = stage
        rec["rows"] = ckpt.metrics(stage)["rows"]
        rec["bytes"] = _dir_bytes(os.path.join(ckpt.base_dir, stage))

    patches = [
        (pipeline, "extract_signatures", materialized("signature_stage", pipeline.extract_signatures)),
        (lsh, "candidate_edges", materialized("lsh.candidates", lsh.candidate_edges)),
        (lsh, "verify_edges", materialized("lsh.verify", lsh.verify_edges, count_verified)),
        (pipeline, "connected_components", materialized("ccomp", pipeline.connected_components)),
        (emtree, "em_tree_fit", timed("emtree.fit", emtree.em_tree_fit, "emtree.fit", fit_stats)),
        (emtree, "sample_signatures", timed("emtree.sample", emtree.sample_signatures)),
        (emtree, "tsvq_init", timed("emtree.tsvq_init", emtree.tsvq_init)),
        (emtree, "update_tree", timed("emtree.update_tree", emtree.update_tree)),
        (emtree, "assign", materialized("emtree.assign", emtree.assign)),
        (Checkpointer, "write", timed("checkpoint.write", Checkpointer.write, "checkpoint", checkpoint_bytes)),
        (Checkpointer, "read", materialized("checkpoint.read", Checkpointer.read, group="checkpoint")),
    ]
    originals = [(owner, name, getattr(owner, name)) for owner, name, _ in patches]
    for owner, name, wrapper in patches:
        setattr(owner, name, wrapper)
    try:
        yield
    finally:
        for owner, name, fn in originals:
            setattr(owner, name, fn)
        for df in persisted:
            df.unpersist()
