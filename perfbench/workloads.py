"""Workload definitions: input sizes and the job each one runs.

``params`` size the timed runs; ``smoke`` replaces them in ``--smoke``
mode, which runs every workload once on tiny inputs. ``layers`` are the
traced layers the workload must run; the traced result reports 0 for
every other layer. Why each workload exists is recorded in BENCHMARK.json
and perfbench/README.md.
"""

from __future__ import annotations

WORKLOADS = {
    "pit_hot_keys": {
        "kind": "pit",
        "layers": (
            "sources.catalog", "operators.windows", "operators.asof",
            "sources.checkpoint", "scoring.fstat",
        ),
        "params": {
            "entities": 2560, "hot_every": 128, "hot_factor": 128,
            "asof_strategy": "merge", "hot_key_threshold": 64, "buckets": 16,
        },
        "smoke": {
            "entities": 256, "hot_every": 128, "hot_factor": 32,
            "asof_strategy": "merge", "hot_key_threshold": 16, "buckets": 8,
        },
    },
    "pit_decode": {
        "kind": "pit",
        "layers": (
            "sources.catalog", "operators.windows", "operators.asof",
            "sources.checkpoint", "scoring.fstat",
            "functions.image",
        ),
        "params": {
            "entities": 1000, "decode": True, "asof_strategy": "union",
            "buckets": 16,
        },
        "smoke": {
            "entities": 60, "decode": True, "asof_strategy": "union",
            "buckets": 8,
        },
    },
    "select_counts": {
        "kind": "select",
        "layers": (
            "sources.catalog", "scoring.logreg", "scoring.fstat",
            "scoring.wilcoxon", "eval.jaccard",
        ),
        "params": {
            "cells": 8192, "genes": 64, "classes": 8, "informative": 6,
            "batch_rows": 256, "max_steps": 2, "n_top": [5, 10, 20],
        },
        "smoke": {
            "cells": 4096, "genes": 32, "classes": 4, "informative": 4,
            "batch_rows": 128, "max_steps": 4, "n_top": [5, 10],
        },
    },
}
