"""CLI for GATE_STATE.json (see ocr_lib_spark/gatestate.py).

Usage, at round START (HEAD == the code the driver just gated):

    python tools/gate_state.py record <round>      # fold CORRECTNESS_r<round>.json in
    python tools/gate_state.py touch q1 q2 ...     # force-stale (operator-module edits
                                                   # the fingerprint doesn't cover)
    python tools/gate_state.py status              # show stale/fresh per query

After a change, re-verify the touched queries locally:

    python tools/gate_state.py verify sf_dir[,sf_dir ...] q1 q2 ...

``verify`` runs ``tools/check_correctness.py`` at every listed scale
factor and stores the current fingerprint of each query that is OK at
all of them (its recorded round is kept), so it leaves the stale list.

``record`` stores, for every query whose row is fully green
(rows+schema+hash, no err), the CURRENT fingerprint — valid only while
the working tree still matches what the driver ran, which is why this
runs at round start before any edits. Rows that are not fully green are
left stale so they re-sort into the priority tier.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ocr_lib_spark.gatestate import current_fingerprints, load_state, state_path


def _registry():
    from ocr_lib_spark.plans import build_registry

    return build_registry()


def _save(state: dict) -> None:
    with open(state_path(), "w") as f:
        json.dump(state, f, indent=1, sort_keys=True)
        f.write("\n")


def record(round_no: int) -> None:
    root = os.path.dirname(state_path())
    with open(os.path.join(root, f"CORRECTNESS_r{round_no:02d}.json")) as f:
        rows = json.load(f)
    if not isinstance(rows, dict):
        raise SystemExit(
            f"CORRECTNESS_r{round_no:02d}.json is not a per-query dict "
            f"(got {type(rows).__name__}); rounds 1-2 used a legacy list "
            "format that carries no per-row verdicts — point record at "
            "round 3 or later."
        )
    reg = _registry()
    fps = current_fingerprints(reg)
    state = load_state()
    n = 0
    for q, row in rows.items():
        if q not in reg:
            continue
        green = (
            isinstance(row, dict)
            and row.get("rows_match")
            and row.get("schema_match")
            and row.get("hash_match")
            and not row.get("err")
        )
        if green:
            state[q] = {"round": round_no, "fp": fps[q]}
            n += 1
    _save(state)
    print(f"recorded {n} green rows from round {round_no} -> {state_path()}")


def touch(names: list[str]) -> None:
    state = load_state()
    for q in names:
        rec = state.get(q)
        if isinstance(rec, dict):
            rec["fp"] = None  # keep the round for the record; force stale
    _save(state)
    print(f"touched {len(names)} queries (forced stale)")


def verify(sf_dirs: list[str], names: list[str]) -> None:
    from tools.check_correctness import check

    green = set(names)
    for sf_dir in sf_dirs:
        green &= {q for q, v in check(sf_dir, set(names)).items() if v == "OK"}
    fps = current_fingerprints(_registry())
    state = load_state()
    for q in green:
        state.setdefault(q, {"round": None})["fp"] = fps[q]
    _save(state)
    print(f"verified {len(green)}/{len(names)}; still stale: {sorted(set(names) - green)}")


def status() -> None:
    reg = _registry()
    fps = current_fingerprints(reg)
    state = load_state()
    stale = [
        n
        for n in reg
        if not (isinstance(state.get(n), dict) and state[n].get("fp") == fps[n])
    ]
    print(f"{len(stale)}/{len(reg)} stale (priority tier):")
    for n in stale:
        print(f"  {n}")


def main() -> None:
    cmd = sys.argv[1] if len(sys.argv) > 1 else "status"
    if cmd == "record":
        record(int(sys.argv[2]))
    elif cmd == "touch":
        touch(sys.argv[2:])
    elif cmd == "verify":
        verify(sys.argv[2].split(","), sys.argv[3:])
    elif cmd == "status":
        status()
    else:
        raise SystemExit(f"unknown command: {cmd}")


if __name__ == "__main__":
    main()
