#!/usr/bin/env python3
"""Compare two `graft.Explain` output directories, key by key.

    python3 tools/plan_diff.py <dir_a> <dir_b> [--show N] [--counts]

Each directory holds one `<key>.txt` per registry key (the formatted
physical plan `graft.Explain` writes) and, when present, `<key>.prefix.txt`:
the executed plan of every action the key's build ran (eager
localCheckpoints, collects, artifact writes; an adaptive plan as its initial
plan), one block per action headed `>>> action <name>`. Par lanes finish in any order, so the prefix blocks are
compared as an order-free multiset of masked plans. Before comparing, the
parts of a plan that change from run to run of the same code are masked:

- expression ids (`qid#265L` -> `qid#`) and exchange `plan_id`s;
- RDD ids (`MapPartitionsRDD[407]`) and the `<File>.scala:<line>` call sites
  that name a checkpoint's RDD;
- the PID (and, for `graft_merge`, the nanoTime suffix) in
  `/tmp/graft_*/run_<pid>_<hash>[_<nanos>]` output paths, and the nanoTime
  suffix of `/tmp/graft_io/<name>_<hash>_<nanos>` ones;
- JVM lambda class names and addresses (`$$Lambda$6703/0x...@31e13256`);
- the model-root directory in front of a deployed or written artifact
  (`file:<root>/copur_<fingerprint>`, `path=<root>/...`), so two runs may
  use different `SPARK_GRAFT_MODEL_DIR`s, and the nanoTime suffix of an
  artifact's commit directory (`tmp_<family>_<fingerprint>_<nanos>`);
- in prefix plans only, the `[codegen id : N]` marks, which follow the
  order in which the run materialized its stages.

Some keys cannot be compared this way, and `RE_EXPLAIN_ALONE` names each
with its reason: q7_distinct and io_col_stats order the distinct groups of
their Expand by exprId hash, and in gr_khop the broadcast build side of one
checkpoint follows the size estimates the keys explained before it left
behind. A difference in one of these keys is listed as "re-explain alone"
(explain just that key on both sides, where the two agree) rather than as
a plan diff.

Compare runs that start from the same model-root state (cold with cold, warm
with warm): a key can plan differently when its artifact is built in the
same run than when it is deployed from disk.

Prints one line per differing key (`DIFF` for the final plan, `DIFF-PREFIX`
with the count of unmatched action plans on each side), the first N lines of
each masked unified diff with --show N, then a summary. Exit status 1 when
any key differs or exists on one side only (re-explain keys do not count).

With --counts it also prints, for EVERY key, the number of actions its build
ran on each side (`COUNTS <key> <a> <b>`, with the difference when they
differ) and the totals, before the summary. The counts come from the initial
plans Explain records, so unlike a job-counting listener they do not drift
between runs of the same code (AQE re-planning under Par lanes moves
listener job counts by 1-4).
"""
import argparse
import difflib
import os
import re
import sys
from collections import Counter

RE_EXPLAIN_ALONE = {
    "q7_distinct": "Expand group order follows exprId hashing",
    "io_col_stats": "Expand group order follows exprId hashing",
    "gr_khop": "a checkpoint's broadcast build side follows the size "
               "estimates left by earlier keys; explained alone, both sides agree",
}

MASKS = [
    (re.compile(r"#\d+L?\b"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"(\w+\.scala):\d+"), r"\1:N"),
    (re.compile(r"(/graft_\w+/run_)\d+_([0-9a-f]+)(_\d+)?"), r"\1PID_\2"),
    (re.compile(r"\$\$Lambda[$\w]*/0x[0-9a-f]+(@[0-9a-f]+)?"), "$$Lambda"),
    (re.compile(r"(/graft_\w+/[a-z]+_[0-9a-f]+)_\d{8,}"), r"\1_N"),
    (re.compile(r"(tmp_[a-z]+_[0-9a-f]{16,})_\d+"), r"\1_N"),
    (re.compile(r"(file:|path=)[^\s,\]]*/(\w+_[0-9a-f]{16,})"), r"\1<model-root>/\2"),
]

ACTION = ">>> action "
PREFIX_MASKS = [(re.compile(r" \[codegen id : \d+\]"), "")]


def mask(text, masks=MASKS):
    for pat, rep in masks:
        text = pat.sub(rep, text)
    return text


def masked(path):
    with open(path, encoding="utf-8") as f:
        return mask(f.read()).splitlines()


def prefix_plans(path):
    """The masked action blocks of a `<key>.prefix.txt` (empty if absent)."""
    if not os.path.exists(path):
        return []
    with open(path, encoding="utf-8") as f:
        blocks = ("\n" + f.read()).split("\n" + ACTION)[1:]
    return [mask(ACTION + b.rstrip("\n"), MASKS + PREFIX_MASKS) for b in blocks]


def keys_of(d):
    return {f[:-4] for f in os.listdir(d)
            if f.endswith(".txt") and not f.endswith(".prefix.txt")}


def show(a, b, k, n):
    diff = difflib.unified_diff(a, b, f"a/{k}", f"b/{k}", lineterm="", n=1)
    for line in list(diff)[:n]:
        print("    " + line)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("dir_a")
    ap.add_argument("dir_b")
    ap.add_argument("--show", type=int, default=0, metavar="N",
                    help="print the first N lines of each masked diff")
    ap.add_argument("--counts", action="store_true",
                    help="print every key's action count on both sides")
    args = ap.parse_args()

    ka, kb = keys_of(args.dir_a), keys_of(args.dir_b)
    only_a, only_b = sorted(ka - kb), sorted(kb - ka)
    changed, re_explain = [], []
    for k in sorted(ka & kb):
        a = masked(os.path.join(args.dir_a, k + ".txt"))
        b = masked(os.path.join(args.dir_b, k + ".txt"))
        pa = Counter(prefix_plans(os.path.join(args.dir_a, k + ".prefix.txt")))
        pb = Counter(prefix_plans(os.path.join(args.dir_b, k + ".prefix.txt")))
        if a == b and pa == pb:
            continue
        (re_explain if k in RE_EXPLAIN_ALONE else changed).append(k)
        if k in RE_EXPLAIN_ALONE:
            continue
        if a != b:
            print(f"DIFF {k}")
            if args.show:
                show(a, b, k, args.show)
        if pa != pb:
            ua, ub = sorted((pa - pb).elements()), sorted((pb - pa).elements())
            print(f"DIFF-PREFIX {k} ({sum(pa.values())} vs {sum(pb.values())} actions; "
                  f"{len(ua)} only in a, {len(ub)} only in b)")
            if args.show and ua and ub:
                show(ua[0].splitlines(), ub[0].splitlines(), k + ".prefix", args.show)
    for k in only_a:
        print(f"ONLY_A {k}")
    for k in only_b:
        print(f"ONLY_B {k}")
    for k in re_explain:
        print(f"RE-EXPLAIN ALONE {k} ({RE_EXPLAIN_ALONE[k]})")
    if args.counts:
        ta = tb = 0
        for k in sorted(ka | kb):
            na = len(prefix_plans(os.path.join(args.dir_a, k + ".prefix.txt")))
            nb = len(prefix_plans(os.path.join(args.dir_b, k + ".prefix.txt")))
            ta, tb = ta + na, tb + nb
            print(f"COUNTS {k} {na} {nb}" + (f" ({nb - na:+d})" if na != nb else ""))
        print(f"COUNTS total {ta} {tb}" + (f" ({tb - ta:+d})" if ta != tb else ""))
    n = len(ka & kb)
    print(f"{n - len(changed) - len(re_explain)}/{n} identical after masking; "
          f"{len(changed)} differ: {' '.join(changed) or '-'}; "
          f"{len(re_explain)} to re-explain alone; "
          f"{len(only_a)} only in a, {len(only_b)} only in b")
    return 1 if changed or only_a or only_b else 0


if __name__ == "__main__":
    sys.exit(main())
