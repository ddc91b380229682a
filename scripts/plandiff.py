#!/usr/bin/env python3
"""Diff two plan dumps (graft.PlanDump output) with expression ids masked.

Usage: python3 scripts/plandiff.py <before.txt> <after.txt>

Catalyst numbers every attribute (`doc_id#123L`), so two dumps of the
same plan differ wherever an id moved. This masks expression ids
(`#<digits>`), exchange ids (`plan_id=<digits>`), closure object names
(`$Lambda$...@<hex>`), the random suffixes of temp dirs (runs of 10
or more digits), higher-order-function variable numbers
(`lambda x_<digits>`) and RDD ids (`MapPartitionsRDD[<digits>]`), then
prints a unified diff of what is left; no output and exit status 0 mean
the plans are the same apart from those ids. The last two are
JVM-global counters: they move whenever earlier code in the same JVM
built a different number of lambda columns or RDDs.
"""
import difflib
import re
import sys

MASKS = [(r"#\d+", "#N"), (r"plan_id=\d+", "plan_id=N"),
         (r"\$Lambda\$[\w/$]*@[0-9a-f]+", "$Lambda$N"), (r"\d{10,}", "N"),
         (r"(lambda [A-Za-z]\w*?)_\d+\b", r"\1_N"), (r"RDD\[\d+\]", "RDD[N]")]


def masked(path):
    with open(path, encoding="utf-8") as f:
        lines = f.readlines()
    for pat, rep in MASKS:
        lines = [re.sub(pat, rep, line) for line in lines]
    return lines


before, after = sys.argv[1], sys.argv[2]
diff = list(difflib.unified_diff(masked(before), masked(after), before, after))
sys.stdout.writelines(diff)
sys.exit(1 if diff else 0)
