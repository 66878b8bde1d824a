"""Operational tooling — the `transporter xlog` / `transporter offset`
CLI analog (cmd/transporter/xlog.go, offset.go:1-143; README.md:179-257).

The reference exposes its durability internals (commit log positions,
per-sink consumer offsets, `offset mark` to skip poison messages).
Spark's equivalent internals are the streaming checkpoint directory;
this module reads them for inspection, and `mark_offset` reproduces
the poison-message escape hatch (DESIGN.md:221-236) by rewriting the
latest offset file. The CLI verbs over it are `transporter xlog
current|oldest|show` and `transporter offset list|show|mark|delete`
(cli.py).
"""

from __future__ import annotations

import json
import os
from typing import Dict, List


def _read_hdfs_log(log_dir: str) -> Dict[int, dict]:
    """Read a Spark HDFSMetadataLog directory (offsets/ or commits/):
    one file per batch id, line 1 = version, rest = JSON payload."""
    out: Dict[int, dict] = {}
    if not os.path.isdir(log_dir):
        return out
    for name in os.listdir(log_dir):
        if not name.isdigit():
            continue
        with open(os.path.join(log_dir, name)) as f:
            lines = [ln for ln in f.read().splitlines() if ln]
        payload: dict = {"version": lines[0] if lines else None, "raw": lines[1:]}
        parsed = []
        for ln in lines[1:]:
            try:
                parsed.append(json.loads(ln))
            except json.JSONDecodeError:
                parsed.append(ln)
        payload["entries"] = parsed
        out[int(name)] = payload
    return out


def checkpoint_state(checkpoint_dir: str) -> dict:
    """Full state of one query's checkpoint: latest batch (`xlog
    current` analog), oldest retained (`xlog oldest`), committed vs
    staged offsets (consumer-offset listing analog)."""
    offsets = _read_hdfs_log(os.path.join(checkpoint_dir, "offsets"))
    commits = _read_hdfs_log(os.path.join(checkpoint_dir, "commits"))
    batches = sorted(offsets)
    return {
        "checkpoint": checkpoint_dir,
        "oldest_batch": batches[0] if batches else None,
        "current_batch": batches[-1] if batches else None,
        "committed_batch": max(commits) if commits else None,
        "uncommitted": sorted(set(offsets) - set(commits)),
        "current_offsets": offsets.get(batches[-1], {}).get("entries") if batches else None,
    }


def list_offsets(checkpoint_dir: str) -> List[dict]:
    """`offset list` analog: every batch with its source offsets."""
    offsets = _read_hdfs_log(os.path.join(checkpoint_dir, "offsets"))
    return [
        {"batch": b, "offsets": payload.get("entries")}
        for b, payload in sorted(offsets.items())
    ]


def mark_offset(checkpoint_dir: str, batch: int, new_entries: List[str]) -> str:
    """`offset mark` analog — the poison-message escape hatch
    (DESIGN.md:221-236): write a NEW offsets file for `batch` with the
    given source-offset JSON lines, so the restarted query skips past
    a poison range. DESTRUCTIVE to the checkpoint; stop the query
    first. Returns the path written."""
    path = os.path.join(checkpoint_dir, "offsets", str(batch))
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write("v1\n")
        for entry in new_entries:
            f.write(entry + "\n")
    return path


def delete_offset(
    checkpoint_dir: str, batch: int, force: bool = False
) -> List[str]:
    """`offset delete` analog — `mark`'s pair in the reference's
    poison-message escape hatch (cmd/transporter/offset.go:1-143,
    DESIGN.md:221-236): remove one batch's offsets file AND its commit
    marker, so the restarted query re-plans from the previous batch's
    offsets (the reference deletes a sink's saved offset to force a
    resync from an earlier position). DESTRUCTIVE to the checkpoint;
    stop the query first. Returns the paths removed; raises if the
    batch has neither an offsets file nor a commit marker.

    Only the NEWEST batch may be deleted unless ``force`` is set:
    removing a mid-log batch leaves a hole in the checkpoint log that
    a restart may not tolerate (ADVICE r13) — the documented
    re-plan-from-prior-batch behavior only holds for the tail entry.
    """
    targets = [
        path
        for sub in ("offsets", "commits")
        if os.path.exists(
            path := os.path.join(checkpoint_dir, sub, str(batch))
        )
    ]
    if not targets:
        raise FileNotFoundError(
            f"batch {batch} has no offsets or commit entry under "
            f"{checkpoint_dir!r}"
        )
    offsets_dir = os.path.join(checkpoint_dir, "offsets")
    has_offsets = os.path.join(offsets_dir, str(batch)) in targets
    # the guard protects the OFFSETS log from holes, so it applies
    # only when this batch actually has an offsets entry (review r14:
    # existence is checked first so a missing batch gets the accurate
    # error, and a commit-marker-only delete can't hole the log)
    if not force and has_offsets and os.path.isdir(offsets_dir):
        batches = []
        for name in os.listdir(offsets_dir):
            # int() is the authority (the cli._batch_arg lesson):
            # isdigit() both over- and under-accepts vs int()
            try:
                batches.append(int(name))
            except ValueError:
                continue
        if batches and batch != max(batches):
            raise ValueError(
                f"batch {batch} is not the newest offsets entry "
                f"(newest is {max(batches)}); deleting a mid-log "
                f"batch leaves a hole in the checkpoint log — pass "
                f"--force to override"
            )
    for path in targets:
        os.remove(path)  # raises if the file vanished since the check
    return targets

