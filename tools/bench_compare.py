"""Compare a bench detail artifact's per-query warm-mins against the
best prior recorded warm-min across all committed BENCH_r*.json
artifacts (and optionally a prior BENCH_DETAIL.json), flagging every
query whose current warm-min exceeds ``threshold``x its best prior —
the SCALE.md adjudication protocol's candidate list.

Usage: python tools/bench_compare.py BENCH_FULL_DETAIL.json [threshold]
"""
from __future__ import annotations

import glob
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: Queries whose registered callable memoizes its result at first
#: invocation (the streaming CEP drain caches the read of its drained
#: memory-sink table in _CEP_STREAM_CACHE because the query is EAGER — plan
#: sweeps would re-drain the stream).  Their warm-run timings measure
#: a dict lookup, so a warm-min comparison can neither detect a
#: regression nor a win there: exclude them and report cold-only.
EAGER_CACHED = {"cep_order_fulfillment_stream"}


def _harvest(best: dict[str, tuple[float, str]], qs, src: str) -> None:
    if not isinstance(qs, dict):
        return
    for name, sec in qs.items():
        if not isinstance(sec, (int, float)):
            continue
        if name not in best or sec < best[name][0]:
            best[name] = (float(sec), src)


def best_prior(
    with_canaries: bool = False,
) -> "dict[str, tuple[float, str]] | tuple[dict[str, tuple[float, str]], dict[str, float]]":
    """Best recorded warm-min per query across (a) every committed
    BENCH_r*.json whose final line embedded the per-query map (rounds
    <= 7) and (b) every git-history version of BENCH_DETAIL.json
    (rounds >= 7 moved the map to the side file).

    ``with_canaries=True`` additionally returns {source -> that
    artifact's ``box_canary_s``} for the sources that recorded one
    (r11+), so callers can normalize cross-box comparisons — a prior
    measured on a faster box state would otherwise ratchet the gate
    into false alarms (see bench.py's canary comment).  Round-file
    priors (BENCH_r*.json) carry no canary and stay unnormalized."""
    import subprocess

    best: dict[str, tuple[float, str]] = {}
    canaries: dict[str, float] = {}

    def _note_canary(d, src):
        c = d.get("box_canary_s")
        if isinstance(c, (int, float)) and c > 0:
            canaries[src] = float(c)

    for path in sorted(glob.glob(f"{ROOT}/BENCH_r*.json")):
        try:
            d = json.load(open(path))
        except Exception:
            continue
        d = d or {}
        _harvest(best, d.get("queries"), os.path.basename(path))
        _harvest(best, (d.get("parsed") or {}).get("queries"),
                 os.path.basename(path))
    # r10: also harvest git-history BENCH_FULL_DETAIL.json — the
    # non-headline 60+ queries exist ONLY there, so without it every
    # full-registry query read "first_recorded" each round
    for artifact in ("BENCH_DETAIL.json", "BENCH_FULL_DETAIL.json"):
        try:
            shas = subprocess.run(
                ["git", "log", "--format=%h", "--", artifact],
                cwd=ROOT, capture_output=True, text=True, check=True,
            ).stdout.split()
            for sha in shas:
                try:
                    d = json.loads(subprocess.run(
                        ["git", "show", f"{sha}:{artifact}"],
                        cwd=ROOT, capture_output=True, text=True, check=True,
                    ).stdout)
                except Exception:
                    continue
                if d.get("sf") != 0.1:
                    continue  # only sf0.1 artifacts are comparable
                src = f"{artifact.split('.')[0]}@{sha}"
                _harvest(best, d.get("queries"), src)
                _note_canary(d, src)
        except Exception:
            pass
    if with_canaries:
        return best, canaries
    return best


def main() -> None:
    cur_path = sys.argv[1] if len(sys.argv) > 1 else f"{ROOT}/BENCH_FULL_DETAIL.json"
    threshold = float(sys.argv[2]) if len(sys.argv) > 2 else 2.0
    cur = json.load(open(cur_path))
    cur_q = cur.get("queries") or {}
    prior = best_prior()
    drifts = []
    fresh = []
    skipped_eager = sorted(n for n in cur_q if n in EAGER_CACHED)
    for name, sec in sorted(cur_q.items()):
        if name in EAGER_CACHED:
            continue
        if name in prior:
            b, src = prior[name]
            ratio = sec / b if b > 0 else float("inf")
            if ratio > threshold:
                drifts.append((name, sec, b, src, round(ratio, 2)))
        else:
            fresh.append((name, sec))
    print(json.dumps({
        "artifact": os.path.basename(cur_path),
        "n_queries": len(cur_q),
        "n_with_prior": sum(1 for n in cur_q if n in prior),
        "threshold": threshold,
        "drifts": [
            {"query": n, "now_s": s, "best_prior_s": b, "prior_src": src,
             "ratio": r} for n, s, b, src, r in drifts
        ],
        "first_recorded": dict(fresh),
        "skipped_eager_cached": skipped_eager,
    }, indent=1))


if __name__ == "__main__":
    main()
