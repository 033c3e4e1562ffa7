"""Per-run stage metrics log for the jobs' ``metrics.json``.

Row counts come from :class:`~geocore_spark.plans.checkpoint.StageCheckpoint`,
which observes them on each stage's own write (Spark's Observation API),
so no stage is scanned twice.
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass, field


@dataclass
class LineageLog:
    """Collects stage metrics; serializable to the per-run metrics JSON."""

    stages: list[dict] = field(default_factory=list)

    def record(self, stage: str, **kw) -> None:
        self.stages.append({"stage": stage, "ts": time.time(), **kw})

    def to_json(self) -> str:
        return json.dumps({"stages": self.stages}, indent=2)
