"""Draws the analytics workload's board sample from a measured profile of
the whole SparkEntry board.

    python3 perfbench/select_board.py            # profile, then select
    python3 perfbench/select_board.py --reuse    # select from the saved profile

Run it from the root of a checkout. Profiling times every board entry but
the four streaming ones the way the `analytics` workload times its sample
(a warm-up pass at sf0.001, then passes at sf0.01 with fresh derived-index
caches; `AnalyticsWorkload.profile`) and saves the median seconds per entry
in perfbench/data/board_profile.json. It takes about 7 minutes on a
4-core host.

Selection is a stratified sample, proportional to measured time. The
strata are the entry families of the per-layer `ops.<family>_s` metrics
(`family` below, as `AnalyticsWorkload.family`). `SLOTS` slots go to the
families by their share of the board's time, at least one each; within a
family, whose entries are sorted by time, entries are drawn by systematic
sampling along the cumulative time, so an entry's chance to be drawn grows
with its time. Then every ops module (the object an entry's lambda calls,
parsed from SparkEntry.scala) and every entry-name prefix of the families
that has no entry yet gets one: its entry of median time. Each family's
weight is its board time over its sample time, so the weighted sample sums
to the board's time per family on the profiled commit. The sample, the
weights and the time shares go to perfbench/data/board_sample.json.
"""
import argparse
import json
import os
import re
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402

ROOT = build.ROOT
DATA = os.path.join(ROOT, "perfbench", "data")
PROFILE = os.path.join(DATA, "board_profile.json")
SAMPLE = os.path.join(DATA, "board_sample.json")
SPARK_ENTRY = os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")
SLOTS = 8
PROFILE_TIMEOUT_S = 1800
# Entry-name prefixes that must each be in the sample: the families of the
# per-layer ops metrics (AnalyticsWorkload.family).
PREFIXES = ("search", "facet", "dedup", "decontaminate", "classify", "cluster",
            "ann", "graph", "ml")
# Board methods that only hand over to another ops module.
DELEGATES = {"RelationalOps.jsonFacet": "JsonFacetOps"}


def family(entry):
    p = entry.split("_")[0]
    if p in ("search", "facet"):
        return p
    if p in ("dedup", "decontaminate"):
        return "dedup"
    if p in ("classify", "cluster", "ann", "graph", "ml"):
        return "ml"
    return "other"


def modules():
    """Ops module of each board entry: the object its lambda calls."""
    with open(SPARK_ENTRY) as fh:
        src = fh.read()
    block = src[src.index("def queries"):src.index("def oracleSql")]
    parts = re.split(r'\n\s*"([a-z0-9_]+)"\s*->', block)
    out = {}
    for name, body in zip(parts[1::2], parts[2::2]):
        call = re.search(r"\b([A-Z][A-Za-z]*Ops)\.(\w+)", body)
        if call:
            out[name] = DELEGATES.get(f"{call.group(1)}.{call.group(2)}", call.group(1))
    return out


def profile():
    classpath = build.build()
    work = os.path.join(ROOT, ".bench_work", f"board-profile-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    args = argparse.Namespace(workload="board-profile", seed=0, seconds=0, trace=0)
    try:
        res = run.run_jvm(classpath, args, work, timeout=PROFILE_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    ctx = res["context"]
    out = {"scale": ctx["scale"], "passes": ctx["passes"], "nproc": ctx["nproc"],
           "max_heap_mb": ctx["max_heap_mb"], "steal_share": ctx["steal_share"],
           "doc_index_s": ctx["doc_index_s"], "failures": res["failures"],
           "entry_s": dict(sorted(ctx["entry_s"].items()))}
    with open(PROFILE, "w") as fh:
        json.dump(out, fh, indent=1)
        fh.write("\n")
    return out


def shares(times, key):
    total = sum(times.values())
    out = {}
    for e, t in times.items():
        out[key(e)] = out.get(key(e), 0.0) + t / total
    return {k: round(v, 4) for k, v in sorted(out.items())}


def prefix(entry):
    p = entry.split("_")[0]
    return p if p in PREFIXES else None


def select(prof):
    mods = modules()
    failed = {f.split(": ")[0].split(" ", 1)[1] for f in prof["failures"] if " " in f}
    times = {e: t for e, t in prof["entry_s"].items() if e in mods and e not in failed}
    strata = {}
    for e in sorted(times, key=lambda e: (times[e], e)):
        strata.setdefault(family(e), []).append(e)
    total = sum(times.values())
    fam_s = {f: sum(times[e] for e in es) for f, es in strata.items()}

    # one slot each, the rest by largest remainder of the time share
    slots = {f: 1 for f in strata}
    spare = SLOTS - len(slots)
    want = {f: spare * fam_s[f] / total for f in strata}
    for f in strata:
        slots[f] += int(want[f])
    for f in sorted(strata, key=lambda f: want[f] - int(want[f]), reverse=True):
        if sum(slots.values()) >= SLOTS:
            break
        slots[f] += 1

    chosen = []
    for f, es in sorted(strata.items()):
        cum, i = 0.0, 0
        for j in range(slots[f]):
            point = (j + 0.5) * fam_s[f] / slots[f]
            while cum + times[es[i]] < point:
                cum += times[es[i]]
                i += 1
            if es[i] not in chosen:  # an entry longer than the step is hit twice
                chosen.append(es[i])

    for group in (mods.get, prefix):
        for g in sorted({group(e) for e in times} - {None}):
            if not any(group(e) == g for e in chosen):
                es = sorted((e for e in times if group(e) == g), key=lambda e: (times[e], e))
                chosen.append(es[(len(es) - 1) // 2])

    chosen.sort()
    sample = {e: times[e] for e in chosen}
    sample_fam_s = {f: sum(t for e, t in sample.items() if family(e) == f) for f in strata}
    return {
        "entries": chosen,
        "family_weight": {f: round(fam_s[f] / sample_fam_s[f], 4) for f in sorted(strata)},
        "board_entries": len(times),
        "board_s": round(total, 3),
        "sample_s": round(sum(sample.values()), 3),
        "board_family_share": shares(times, family),
        "sample_family_share": shares(sample, family),
        "board_module_share": shares(times, mods.get),
        "sample_module_share": shares(sample, mods.get),
    }


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--reuse", action="store_true",
                   help="select from the saved profile instead of profiling")
    args = p.parse_args()
    if args.reuse:
        with open(PROFILE) as fh:
            prof = json.load(fh)
    else:
        prof = profile()
    sample = select(prof)
    with open(SAMPLE, "w") as fh:
        json.dump(sample, fh, indent=1)
        fh.write("\n")
    print(json.dumps(sample, indent=1))


if __name__ == "__main__":
    main()
