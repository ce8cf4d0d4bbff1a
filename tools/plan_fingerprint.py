"""Normalized plan fingerprints for the common-18 bench basket — the
regression-proofing half of the bench methodology (VERDICT r13 "What's
wrong" §1): the driver's isolated common-18 wall moved +11% in r13
while the builder's same-code host runs spread ±27%, and the bench as
constituted could not distinguish host drift from a plan regression.
The fingerprint can: if a query's OPTIMIZED LOGICAL PLAN (normalized —
expression ids, plan ids, checkpoint RDD ids, paths, and stats
stripped) hashes the same as last round, a wall-clock move is drift or
data, not a plan change; if it differs, the diff names exactly which
query to audit.

Usage:
  python tools/plan_fingerprint.py            # write PLAN_FINGERPRINTS.json
  python tools/plan_fingerprint.py --check    # compare vs committed file,
                                              # exit 1 + name changed queries
ROUND-CLOSING RULE: --check must pass, OR every changed fingerprint is
explained in SCALE.md (an intentional plan improvement is exactly what
should change a fingerprint).

The session is pinned to ``local[32]`` with 32 shuffle partitions, the
size the committed file was written at: some plans carry a partition
count sized from the session's parallelism (e.g. the ``coalesce`` of
``weak_components``), so a session sized from the host's cores would
report host-dependent changes.  The pinned session only runs threads;
it does not need 32 cores.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
OUT = os.path.join(REPO, "PLAN_FINGERPRINTS.json")
#: session parallelism the committed fingerprints were written at
CORES = 32

_STRIP = [
    # expression ids: l_orderkey#123L, sum(x#4)#99 -> #
    (re.compile(r"#\d+L?"), "#"),
    # plan / stage / subquery ids
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"subquery#?\d*", re.I), "subquery"),
    (re.compile(r"cte\[\d+\]"), "cte[]"),
    # localCheckpoint scans: ExistingRDD / LogicalRDD ids + Scan rdd ids
    (re.compile(r"MapPartitionsRDD\[\d+\]"), "MapPartitionsRDD[]"),
    (re.compile(r"SQLExecutionRDD\[\d+\]"), "SQLExecutionRDD[]"),
    (re.compile(r"rdd_\d+_\d+"), "rdd"),
    # absolute paths (parquet locations, temp dirs, checkpoints) —
    # anchored to require a `file:` scheme or >=2 path segments so a
    # stray plan token that merely starts with '/' (e.g. a literal)
    # can't be over-normalized into a false "unchanged" verdict
    (re.compile(r"file:/[^\s,\]\)]*"), "<path>"),
    (re.compile(r"/[^\s,\]\)/]+(?:/[^\s,\]\)/]+)+/?"), "<path>"),
    # sizes / row counts / statistics
    (re.compile(r"Statistics\([^)]*\)"), "Statistics()"),
    (re.compile(r"sizeInBytes=[0-9.]+ *[A-Za-z]*"), "sizeInBytes="),
    (re.compile(r"rowCount=\d+"), "rowCount="),
    # boolean literals of cached relation ids etc.
    (re.compile(r"\[id=#?\d*\]"), "[id=]"),
]


def normalize(plan: str) -> str:
    for pat, rep in _STRIP:
        plan = pat.sub(rep, plan)
    return plan


def fingerprint_df(df) -> dict:
    raw = df._jdf.queryExecution().optimizedPlan().toString()
    norm = normalize(raw)
    return {
        "hash": hashlib.sha256(norm.encode()).hexdigest()[:16],
        "n_lines": norm.count("\n") + 1,
    }


#: The 10 heaviest non-common18 suite queries by r14 wall (VERDICT r14
#: "Next round" §3): they dominate the full-suite total, and until r15
#: their drift was only arguable from "file untouched" diffs.  With
#: fingerprints, a wall move on any of them is decidable the same way
#: the common-18 is.
HEAVY10 = [
    "hits_scores",
    "betweenness_approx",
    "stream_neardup_twin",
    "node2vec_walks",
    "harmonic_centrality",
    "leiden_communities",
    "snm_recall",
    "label_propagation_weighted",
    "random_walks",
    "pairwise_corr",
]


def build(sf_dir: str) -> dict:
    import __spark_entry__ as entry_mod
    from bench import COMMON18

    from networkframe_spark.session import get_spark

    spark = get_spark(
        "plan_fingerprint", master=f"local[{CORES}]", shuffle_partitions=CORES
    )
    qs = entry_mod.queries()
    fps: dict[str, dict] = {}
    for name in COMMON18 + HEAVY10:
        # constructing the DataFrame may run bounded jobs (manifest
        # reads, localCheckpoint inside iterative loops) — that's fine;
        # the fingerprint is the FINAL optimized plan, pre-execution
        fps[name] = fingerprint_df(qs[name](spark, sf_dir))
    spark.stop()
    return fps


def main() -> int:
    argv = [a for a in sys.argv[1:] if a != "--check"]
    check = "--check" in sys.argv[1:]
    sf_dir = argv[0] if argv else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    fps = build(sf_dir)
    if not check:
        with open(OUT, "w") as fh:
            json.dump({"sf_dir": sf_dir, "fingerprints": fps}, fh, indent=1)
            fh.write("\n")
        print(f"wrote {OUT} ({len(fps)} queries)")
        return 0
    with open(OUT) as fh:
        committed = json.load(fh)["fingerprints"]
    changed = {
        n: {"committed": committed.get(n), "current": fps[n]}
        for n in fps
        if committed.get(n, {}).get("hash") != fps[n]["hash"]
    }
    missing = sorted(set(committed) - set(fps))
    if changed or missing:
        for n, d in sorted(changed.items()):
            print(f"CHANGED  {n}: {d['committed']} -> {d['current']}")
        for n in missing:
            print(f"MISSING  {n}: committed but not fingerprinted")
        print(
            f"\n{len(changed)} changed, {len(missing)} missing — either "
            "revert, or re-run without --check and explain in SCALE.md"
        )
        return 1
    print(f"all {len(fps)} fingerprints unchanged")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
