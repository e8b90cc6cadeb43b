"""Pinned inputs: the sizes and content hashes of each workload's inputs
for the default seed, kept in pins.json.

A change to hdtspark.synth, hdtspark.vocab or the benchmark's own
generators that alters the load makes every run fail with the difference,
instead of silently re-basing the benchmark.  Each run checks a small
canary input of the default seed (cheap, whatever seed the run uses); a
run with the default seed also checks its full input.  After an intended
change to the inputs, rewrite the pins with
``python3 perfbench/run.py --write-pins`` and say so in the change.
"""

from __future__ import annotations

import hashlib
import json
from pathlib import Path

import workloads as wl

PINS = Path(__file__).with_name("pins.json")
CANARY = {"synth": 30, "skewed_nt": 2_000}
FULL = {"synth": wl.SYNTH_N_CONV, "skewed_nt": wl.NT_NODES}


def measure(workload: str, seed: int, size: int) -> dict:
    """Input sizes and a content hash of one generated input."""
    if workload == "synth":
        g, turns, digest = wl.synth_graph(seed, size)
        return {"n_conv": size, "turns": turns, "raw_triples": g.raw,
                "triples": len(g.triples), "rows_sha256": digest}
    data, g, lines = wl.skewed_nt(seed, size)
    hub = f"<{wl.NT_HUB}> ".encode()
    return {"nodes": size, "lines": lines, "raw_triples": g.raw,
            "triples": len(g.triples),
            "hub_raw_degree": sum(1 for ln in data.split(b"\n") if ln.startswith(hub)),
            "nt_sha256": hashlib.sha256(data).hexdigest()}


def write(seed: int) -> None:
    pins = {"seed": seed, **{
        w: {"full": measure(w, seed, FULL[w]),
            "canary": measure(w, seed, CANARY[w])} for w in FULL}}
    PINS.write_text(json.dumps(pins, indent=1) + "\n")


def check(workload: str, seed: int, default_seed: int) -> None:
    """Raise SystemExit when the generated inputs differ from the pins."""
    pins = json.loads(PINS.read_text())
    if pins["seed"] != default_seed:
        raise SystemExit(f"pins.json is for seed {pins['seed']}, not {default_seed}")
    kinds = ["canary"] + (["full"] if seed == default_seed else [])
    sizes = {"canary": CANARY[workload], "full": FULL[workload]}
    for kind in kinds:
        got = measure(workload, default_seed, sizes[kind])
        want = pins[workload][kind]
        if got != want:
            diff = {k: (want.get(k), got.get(k)) for k in set(want) | set(got)
                    if want.get(k) != got.get(k)}
            raise SystemExit(f"{workload} {kind} input changed (pinned, now): {diff}")
