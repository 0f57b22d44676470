"""Iterative-run ledger: per-iteration checkpoints + metrics + resume.

The north rule requires every iterative algorithm to checkpoint
per-partition lineage + convergence metrics so runs resume
mid-algorithm. The reference's analogue is the level/record stack of
hlpa_record (src/hlpa.jl:144-200).

Layout under ``root``::

    runs/<run_id>/
        manifest.json            run metadata (algorithm, params, seed)
        metrics.jsonl            one line per iteration: {"iter": k, ...}
        state/<name>/iter=K/     StateLoop's per-iteration state (dir mode)

Algorithms accept a ``ledger=`` parameter; their StateLoop
(plans/iterstate.py) keeps its state under ``state/`` as plain parquet
(readable by any executor count) and reopens the newest complete
iteration, so a new driver process continues from iteration K+1 — see
operators/pagerank.py, operators/lpa.py, operators/lpa_async.py.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timezone


class RunLedger:
    def __init__(
        self,
        root: str,
        run_id: str | None = None,
        manifest: dict | None = None,
    ):
        self.run_id = run_id or datetime.now(timezone.utc).strftime("%Y%m%dT%H%M%S%f")
        self.dir = os.path.join(root, self.run_id)
        os.makedirs(self.dir, exist_ok=True)
        self._metrics_path = os.path.join(self.dir, "metrics.jsonl")
        manifest_path = os.path.join(self.dir, "manifest.json")
        if manifest is not None and not os.path.exists(manifest_path):
            with open(manifest_path, "w") as f:
                json.dump(manifest, f, indent=2, default=str)

    # -- metrics -------------------------------------------------------
    def record(self, iteration: int, metrics: dict) -> None:
        with open(self._metrics_path, "a") as f:
            f.write(json.dumps({"iter": iteration, **metrics}) + "\n")

    def metrics(self) -> list[dict]:
        if not os.path.exists(self._metrics_path):
            return []
        with open(self._metrics_path) as f:
            return [json.loads(line) for line in f if line.strip()]
