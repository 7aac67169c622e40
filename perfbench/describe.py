#!/usr/bin/env python3
"""Writes BENCHMARK.json at the repository root from the workload and
metric definitions in workloads.py and metrics.py.

    python3 perfbench/describe.py
"""
import json
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import metrics  # noqa: E402
import workloads  # noqa: E402

RUN_SECONDS = 20


def main():
    doc = {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": w, "why": workloads.WHY[w]} for w in workloads.WORKLOADS],
        "end_to_end": [{"name": m, "unit": metrics.unit(m), "better": "lower",
                        "bound": bound} for m, bound in metrics.END_TO_END.items()],
        "per_layer": [{"name": m, "unit": metrics.unit(m), "better": metrics.better(m)}
                      for m in metrics.PER_LAYER],
    }
    (HERE.parent / "BENCHMARK.json").write_text(json.dumps(doc, indent=2) + "\n")


if __name__ == "__main__":
    main()
