#!/usr/bin/env python3
"""Prints when each micro-batch's gold writes ran, from a Spark event log.

    python3 plans/pr10/gold_phase.py <decompressed event log file>

A batch starts at its bronze write; batches without gold writes are
skipped. For every batch it prints the batch's wall time (first
execution start to last execution end) and the gold
phase (first gold write start to last gold write end); for the last
batch it also prints each gold execution's start and end, relative to
the start of the gold phase.
"""
import json
import re
import sys

WRITE = re.compile(r"InsertIntoHadoopFsRelationCommand\s*\n.*?Arguments: ([^,\s]+)", re.S)


def executions(path):
    """(id, start ms, end ms, table written or None), in start order."""
    starts, ends = {}, {}
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e.get("Event", "")
            if kind.endswith("SparkListenerSQLExecutionStart"):
                m = WRITE.search(e.get("physicalPlanDescription", ""))
                # the catalog stages a table's write in `.tmp-<table>-<nonce>`
                table = m and re.sub(r"^\.tmp-(.*)-[0-9a-f]+$", r"\1",
                                     m.group(1).rstrip("/").split("/")[-1])
                starts[e["executionId"]] = (e["time"], table)
            elif kind.endswith("SparkListenerSQLExecutionEnd"):
                ends[e["executionId"]] = e["time"]
    return sorted(((i, t, ends[i], table) for i, (t, table) in starts.items()
                   if i in ends), key=lambda r: r[1])


def main():
    batches = []
    for r in executions(sys.argv[1]):
        if r[3] and r[3].startswith("bronze") or not batches:
            batches.append([])
        batches[-1].append(r)
    batches = [b for b in batches if any(r[3] and r[3].startswith("gold_") for r in b)]
    for n, batch in enumerate(batches, 1):
        gold = [r for r in batch if r[3] and r[3].startswith("gold_")]
        g0 = min(r[1] for r in gold)
        wall = max(r[2] for r in batch) - batch[0][1]
        gold_s = max(r[2] for r in gold) - g0
        print(f"batch {n}: wall {wall / 1000:.2f} s, gold phase {gold_s / 1000:.2f} s, "
              f"{len(gold)} gold writes")
        if n == len(batches):
            for i, start, end, table in gold:
                print(f"  execution {i}: {table:24s} "
                      f"+{(start - g0) / 1000:.3f} s .. +{(end - g0) / 1000:.3f} s")


if __name__ == "__main__":
    main()
