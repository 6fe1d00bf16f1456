"""In-memory spans recorded by the benchmark around its calls into each layer.

A span is (id, name, parent, op, start, end). Nothing is written while an
op runs; ``dump`` writes every span as one JSON line when the run ends.
A layer's self time is its span's duration minus the time its child
spans cover.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager

#: the root span of one op; ``query.<name>`` spans only group the layer
#: spans of one query, so neither counts as a layer
ROOT = "op"
GROUP_PREFIX = "query."


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.op: int | None = None
        self.spans: list[dict] = []
        #: (op, kind) -> Spark job groups set while that op ran
        self.groups: dict[tuple[int, str], list[str]] = defaultdict(list)
        self._stack: list[int] = []

    def job_group(self, sc, kind: str, label: str) -> None:
        """Tag the jobs the next calls launch, so they can be counted."""
        if self.enabled:
            gid = f"{kind}:{self.op}:{label}"
            sc.setJobGroup(gid, label)
            self.groups[(self.op, kind)].append(gid)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[int, dict[str, float]]:
        """op id -> {span name: summed self time in seconds}."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for s in self.spans:
            out[s["op"]][s["name"]] += s["end"] - s["start"] - child[s["id"]]
        return out

    def op_walls(self) -> dict[int, float]:
        return {
            s["op"]: s["end"] - s["start"] for s in self.spans if s["name"] == ROOT
        }

    def coverage(self) -> dict[int, float]:
        """op id -> share of the op's wall time covered by layer self times."""
        walls = self.op_walls()
        return {
            op: sum(
                t
                for name, t in layers.items()
                if name != ROOT and not name.startswith(GROUP_PREFIX)
            )
            / walls[op]
            for op, layers in self.self_times().items()
        }

    def dump(self, path: str, header: dict, t0: float) -> None:
        """Write ``header`` then one line per span, times in ms since ``t0``."""
        with open(path, "w") as f:
            f.write(json.dumps(header) + "\n")
            for s in self.spans:
                rec = dict(s, start=(s["start"] - t0) * 1e3, end=(s["end"] - t0) * 1e3)
                f.write(json.dumps(rec) + "\n")
