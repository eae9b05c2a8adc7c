#!/usr/bin/env python3
"""Bucket a JFR CPU profile of the render threads by serving layer.

Usage:

    jfr print --json --stack-depth 1024 --events jdk.ExecutionSample rec.jfr > rec.json
    python3 tools/jfr_buckets.py rec.json [--thread graft-http]

Reads the `jdk.ExecutionSample` events of threads whose name starts with
`--thread` (the HTTP API's pool by default) and puts each sample in the
first bucket, in the order below, that has a frame anywhere on its stack:

    session       making a request session or building its session state
    registration  registering functions into a session's registry
    parse         Spark's SQL parser
    analysis      Spark's analyzer (table resolution and its listing too)
    optimize      Spark's optimizer
    execute       physical planning and execution
    listing       listing a table's files outside analysis (the text check's
                  FileListing, or its InMemoryFileIndex fallback)
    cache         the result cache's own work (keys, sizes, lookups)
    gate          the statement gate and the text utilities (comment strip,
                  statement split, escaping)
    rewrite       the dialect rewrite (its template memo and bind) and
                  macro expansion
    json          rendering the response
    other         anything else

Prints one row per bucket: samples and share of the thread's samples.
"""
import argparse
import json
import sys

# (bucket, frame prefixes): a frame is "package.Class.method"; a prefix
# matches the start of it
BUCKETS = [
    ("session", (
        "graft.Sessions$.request",
        "org.apache.spark.sql.graftsession.SessionHooks$.newSession",
        "org.apache.spark.sql.classic.SparkSession.<init>",
        "org.apache.spark.sql.classic.SparkSession.newSession",
        "org.apache.spark.sql.classic.SparkSession.sessionState",
        "org.apache.spark.sql.internal.BaseSessionStateBuilder",
    )),
    ("registration", (
        "graft.exprs.RegistryQuiet",
        "graft.GraftExtensions$.register",
        "graft.types.ShaperTypes$.register",
        "org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistryBase.registerFunction",
        "org.apache.spark.sql.catalyst.analysis.FunctionRegistryBase.createOrReplaceTempFunction",
        "org.apache.spark.sql.classic.UDFRegistration.register",
        "org.apache.logging.log4j.core.config.Configurator.setLevel",
    ) + tuple(f"graft.exprs.{k}$.register" for k in (
        "Boxplot", "Len", "CosineSim", "SqDist", "NfcNormalize", "Shingles3",
        "WordPairs", "Md5Bits60", "QualityScore", "JlProject"))),
    ("parse", (
        "org.apache.spark.sql.catalyst.parser.",
        "org.apache.spark.sql.execution.SparkSqlParser",
    )),
    ("analysis", (
        "org.apache.spark.sql.execution.QueryExecution.analyzed",
        "org.apache.spark.sql.execution.QueryExecution.assertAnalyzed",
        "org.apache.spark.sql.catalyst.analysis.Analyzer",
    )),
    ("optimize", (
        "org.apache.spark.sql.execution.QueryExecution.optimizedPlan",
        "org.apache.spark.sql.catalyst.optimizer.Optimizer",
        "org.apache.spark.sql.execution.SparkOptimizer",
    )),
    ("execute", (
        "org.apache.spark.sql.execution.QueryExecution.sparkPlan",
        "org.apache.spark.sql.execution.QueryExecution.executedPlan",
        "org.apache.spark.sql.execution.SparkPlan.execute",
        "org.apache.spark.sql.execution.adaptive.",
        "org.apache.spark.SparkContext.runJob",
    )),
    ("listing", (
        "org.apache.spark.sql.execution.datasources.InMemoryFileIndex",
        "graft.interp.FileListing",
    )),
    ("cache", (
        "graft.interp.ResultCache",
        "graft.interp.IncrementalAggregate",
    )),
    ("gate", (
        "graft.sqlfront.Gate",
        "graft.sqlfront.SqlText",
    )),
    ("rewrite", (
        "graft.sqlfront.",
    )),
    ("json", (
        "graft.render.",
        "graft.api.HttpApi.respond",
    )),
]


def frame(f):
    """`package.Class.method` of one JFR stack frame."""
    m = f["method"]
    return m["type"]["name"].replace("/", ".") + "." + m["name"]


def bucket(frames):
    for name, prefixes in BUCKETS:
        if any(fr.startswith(prefixes) for fr in frames):
            return name
    return "other"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("json", help="output of `jfr print --json --events jdk.ExecutionSample`")
    ap.add_argument("--thread", default="graft-http", help="thread-name prefix (default graft-http)")
    a = ap.parse_args()
    with open(a.json) as fh:
        events = json.load(fh)["recording"]["events"]
    counts = {name: 0 for name, _ in BUCKETS}
    counts["other"] = 0
    total = 0
    for e in events:
        v = e["values"]
        if e["type"] != "jdk.ExecutionSample" or \
                not (v.get("sampledThread") or {}).get("javaName", "").startswith(a.thread):
            continue
        total += 1
        counts[bucket([frame(f) for f in v["stackTrace"]["frames"]])] += 1
    if total == 0:
        sys.exit(f"no samples on threads named {a.thread}*")
    print(f"| bucket | samples | share |\n|---|---:|---:|")
    for name, n in counts.items():
        print(f"| {name} | {n} | {100.0 * n / total:.1f}% |")
    print(f"| total ({a.thread}*) | {total} | 100.0% |")


if __name__ == "__main__":
    main()
