"""Command-line interface: clear / input / snapshot / cis.

Parity target: ``net-spider-rpl-cli/src/NetSpider/RPL/CLI.hs`` (the
reference application, SURVEY §3 entry 3) and the option grammar of
``net-spider-cli/src/NetSpider/CLI/Snapshot.hs:88-145``:

* ``clear``    — truncate the history table (S4).
* ``input``    — parse Contiki-NG logs into findings and append (S5);
  ``--filter latest`` keeps only each node's newest finding (F5).
* ``snapshot`` — snapshot query over the history: ``-s`` start nodes
  (repeatable), ``--time-from/--time-to`` with ``i``/``x``
  inclusivity prefixes and ``+-inf`` (Interval.hs:77-136),
  ``--duration`` seconds (``secUpTo``), DIO+DAO queries combined to
  one GraphML document on stdout (``combineGraphs`` + writeGraphML).
* ``cis``      — clear + input + snapshot in one run (CLI.hs:66-138).

Usage: ``python -m net_spider_spark.cli --db /path/history <cmd> ...``
"""

from __future__ import annotations

import argparse
import sys
from typing import Optional, Sequence

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from net_spider_spark.ingest import clear_all, read_findings, write_findings
from net_spider_spark.interval import NEG_INF, POS_INF, Interval
from net_spider_spark.rpl.combined import combine_graphs
from net_spider_spark.snapshot import Query, get_snapshot, latest_findings_per_node


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="net-spider-spark")
    p.add_argument("--db", required=True, help="history table path (parquet)")
    sub = p.add_subparsers(dest="command", required=True)

    sub.add_parser("clear", help="drop all findings")

    p_compact = sub.add_parser(
        "compact", help="rewrite history partitions into few large files"
    )
    p_compact.add_argument(
        "--target-rows", type=int, default=1_000_000,
        help="rows per output file (per day partition)",
    )
    p_compact.add_argument(
        "--zorder", action="store_true",
        help="OPTIMIZE-ZORDER rewrite: lay the whole table along the "
        "(subject_node, found_at) Z-curve so point lookups AND "
        "interval scans prune by file stats (drops the found_day "
        "partition column — the time axis moves into the curve)",
    )

    p_in = sub.add_parser("input", help="parse logs and append findings")
    _input_args(p_in)

    p_snap = sub.add_parser("snapshot", help="snapshot query -> GraphML")
    _snapshot_args(p_snap, starts_as_arguments=True)

    p_cis = sub.add_parser("cis", help="clear + input + snapshot")
    _input_args(p_cis)
    _snapshot_args(p_cis)

    p_an = sub.add_parser(
        "analyze",
        help="DODAG health summary per family (CLI/Analyze.hs "
             "analyzeDIO/analyzeDAO)",
    )
    _snapshot_args(p_an)
    return p


def _input_args(p: argparse.ArgumentParser) -> None:
    p.add_argument(
        "logs", nargs="+",
        help="log files/globs; '-' reads STDIN (CLI.hs parserInputFiles)",
    )
    p.add_argument("--format", choices=["syslog", "cooja"], default="syslog")
    p.add_argument("--year", type=int, default=None, help="syslog year")
    p.add_argument(
        "-F", "--filter", choices=["none", "latest"], default="none",
        help="pre-ingest filter (latest = newest finding per node)",
    )
    p.add_argument(
        "--layout", choices=["day", "zorder"], default="day",
        help="history layout: 'day' = partition by found_day (interval "
             "pruning), 'zorder' = (subject_node, found_at) Z-curve "
             "(point lookups AND intervals prune by file stats)",
    )


def _snapshot_args(
    p: argparse.ArgumentParser, starts_as_arguments: bool = False
) -> None:
    p.add_argument(
        "-s", "--starts-from", action="append", default=None,
        help="start node as a bare IPv6 address (lifted into both the "
             "dio:// and dao:// namespaces, like the reference's "
             "IPv6ID starts); a prefixed FindingID restricts one family",
    )
    if starts_as_arguments:
        # `snapshot` also takes start nodes positionally, same as -s
        # (parserSnapshot True -> startsFromAsArguments, CLI.hs:201 +
        # Snapshot.hs:104-108); `cis` does not (its starts come from
        # the loaded findings).
        p.add_argument("start_args", nargs="*", metavar="NODE-ID",
                       help="same as -s option")
    p.add_argument("-f", "--time-from", default=None,
                   help="interval start; i/x prefix for incl/excl, -inf")
    p.add_argument("-t", "--time-to", default=None,
                   help="interval end; i/x prefix for incl/excl, +inf")
    p.add_argument("-d", "--duration", type=float, default=None,
                   help="seconds paired with --time-from (secSince) or "
                        "--time-to (secUntil)")
    p.add_argument("--policy", choices=["overwrite", "append"],
                   default="overwrite")
    p.add_argument("--max-hops", type=int, default=None,
                   help="bound the traversal depth (the reference's "
                        "unimplemented TODO, Spider.hs:254)")
    p.add_argument("-o", "--output", default="-", help="GraphML path or -")


def _interval(args) -> Interval:
    # --duration semantics follow the reference's parserSnapshotQuery
    # (net-spider-cli, CLI/Snapshot.hs:78-82): duration + time-from ->
    # secSince, duration + time-to -> secUntil (Interval.hs:148-185) —
    # the derived far end's inclusivity is the NEGATION of the parsed
    # anchor's, and an infinite anchor yields the empty interval. All
    # three options together, or duration alone, is an error.
    if args.duration is not None:
        if args.time_from and args.time_to:
            raise SystemExit(
                "all --time-to, --time-from and --duration is not allowed"
            )
        if not args.time_from and not args.time_to:
            raise SystemExit(
                "--duration requires either --time-from or --time-to"
            )
        if args.time_to:
            upper, upper_inc = Interval.parse_end(args.time_to)
            return Interval.sec_until(upper, args.duration, upper_inc)
        lower, lower_inc = Interval.parse_end(args.time_from)
        return Interval.sec_since(lower, args.duration, lower_inc)
    lower, lower_inc = NEG_INF, True
    upper, upper_inc = POS_INF, True
    if args.time_to:
        upper, upper_inc = Interval.parse_end(args.time_to)
    if args.time_from:
        lower, lower_inc = Interval.parse_end(args.time_from)
    return Interval(lower, upper, lower_inc, upper_inc)


def _do_input(spark: SparkSession, args) -> int:
    from net_spider_spark.rpl.contiki import parse_contiki_logs

    logs = list(args.logs)
    spooled_path = None
    if "-" in logs:
        # '-' reads STDIN (CLI.hs parserInputFiles): spool it to a temp
        # file so the distributed reader can scan it like any log file;
        # removed once the ingest actions below have consumed it.
        import tempfile

        spooled = tempfile.NamedTemporaryFile(
            "w", suffix=".log", delete=False, encoding="utf-8"
        )
        with spooled as f:
            f.write(sys.stdin.read())
        spooled_path = spooled.name
        logs = [spooled_path if x == "-" else x for x in logs]
    try:
        dio, dao = parse_contiki_logs(
            spark, logs, head=args.format, year=args.year
        )
        findings = dio.unionByName(dao)
        if args.filter == "latest":
            findings = latest_findings_per_node(findings)
        n = findings.count()
        if getattr(args, "layout", "day") == "zorder":
            from net_spider_spark.ingest import write_findings_zordered

            write_findings_zordered(findings, args.db, mode="append")
        else:
            write_findings(findings, args.db)
    finally:
        if spooled_path is not None:
            import os

            os.unlink(spooled_path)
    print(f"ingested {n} findings", file=sys.stderr)
    return 0


def _do_snapshot(spark: SparkSession, args) -> int:
    iv = _interval(args)
    # pass the interval down so day-partition pruning happens at the
    # scan (read_findings translates it into a found_day filter); the
    # snapshot's own row-level interval filter still applies after.
    findings = read_findings(spark, args.db, interval=iv)
    starts = args.starts_from
    # positional NODE-ID arguments append after the -s options, like
    # the reference's pStartsFrom ++ pStartsFromArgs (SnapshotSpec:
    # ["90", "-s", "181"] parses to [181, 90])
    extra = getattr(args, "start_args", None)
    if extra:
        starts = (starts or []) + list(extra)

    # Reference start-node semantics (CLI.hs:103-137 + CLISpec.hs):
    # `-s` takes a BARE IPv6 address (an IPv6ID), and rebaseQuery lifts
    # it into BOTH the dio:// and dao:// FindingID namespaces — one
    # start reaches both family graphs. A plain `snapshot` with no
    # starts dies; `cis` derives its starts from every subject it just
    # loaded, which visits exactly the whole-graph node set — expressed
    # here as starts=None (no driver-side subject collect, same
    # result). Prefixed FindingID text is also accepted for
    # family-specific starts (engine extension).
    if args.command == "snapshot" and not starts:
        raise SystemExit("Specify the starting nodes with -s option.")
    from net_spider_spark.rpl import ipv6 as _ipv6

    def lift(value: str, prefix: str) -> Optional[str]:
        if "://" in value:
            return value if value.startswith(f"{prefix}://") else None
        try:
            canon = _ipv6.format_ipv6(_ipv6.parse_ipv6(value))
        except ValueError:
            raise SystemExit(f"Invalid start node address: {value}")
        return f"{prefix}://[{canon}]"

    # The reference's snapshot uses dioDefQuery/daoDefQuery (RPL/CLI
    # Main.hs via DIO.hs:246, DAO.hs:130), not the default unifier:
    # DIO links get the two-endpoint MergedDIOLink merge, DAO links
    # the no-negation latest merge.
    from net_spider_spark.rpl.dao import dao_unifier_conf
    from net_spider_spark.rpl.dio import dio_unifier_conf

    unifiers = {"dio": dio_unifier_conf, "dao": dao_unifier_conf}

    def run(prefix: str):
        subset = findings.filter(
            F.col("subject_node").startswith(f"{prefix}://")
        )
        lifted = (
            [x for x in (lift(s, prefix) for s in starts) if x is not None]
            if starts
            else None
        )
        q = Query(
            starts_from=lifted,
            time_interval=iv,
            found_node_policy=args.policy,
            max_hops=args.max_hops,
            unify=unifiers[prefix](),
        )
        return get_snapshot(subset, q)

    combined_nodes, combined_links = combine_graphs(run("dio"), run("dao"))
    # Deterministic export order: snapshot row order is shuffle-derived,
    # so without a sort two runs over the same history emit the same
    # graph with different element/key order — undiffable. The snapshot
    # is the small end product; the sort is cheap.
    combined_nodes = combined_nodes.orderBy("node_id")
    # link_type breaks the tie when a pair carries both a DIO and a DAO
    # link observed at the same timestamp -- without it the sort key is
    # not total and two runs can still swap those rows.
    combined_links = combined_links.orderBy(
        "source_node",
        "dest_node",
        "link_ts",
        F.col("link_attrs").getItem("link_type"),
    )
    # The writer owns materialization: it collects each side once under
    # the driver budget and streams above it, with the same bytes.
    from net_spider_spark.graphml import write_graphml_file, write_graphml_to

    if args.output == "-":
        write_graphml_to(combined_nodes, combined_links, sys.stdout.write)
    else:
        write_graphml_file(combined_nodes, combined_links, args.output)
    return 0


def _do_analyze(spark: SparkSession, args) -> int:
    """``analyze`` subcommand: whole-graph DIO and DAO snapshots (the
    reference's dioDefQuery/daoDefQuery unifiers), then
    ``analyzeDIO``/``analyzeDAO`` (CLI/Analyze.hs:50-55). Debug lines
    mirror the reference's WriterLoggingM channel (Analyze.hs:74-80) on
    stderr; the DODAGAttributes record (:39-47) prints on stdout in
    Haskell Show layout. Analysis errors log the reference's exact
    message and yield no record — like ``Nothing`` — without failing
    the command."""
    from net_spider_spark.graph.analyze import (
        AnalyzeError,
        analyze_dao,
        analyze_dio,
    )
    from net_spider_spark.rpl.dao import dao_unifier_conf
    from net_spider_spark.rpl.dio import dio_unifier_conf
    from net_spider_spark.timestamp import format_timestamp, from_epoch_ms

    iv = _interval(args)
    findings = read_findings(spark, args.db, interval=iv)
    families = (
        ("DIO", "dio", dio_unifier_conf, analyze_dio),
        ("DAO", "dao", dao_unifier_conf, analyze_dao),
    )
    for label, prefix, conf, analyze in families:
        subset = findings.filter(
            F.col("subject_node").startswith(f"{prefix}://")
        )
        q = Query(
            time_interval=iv, found_node_policy=args.policy, unify=conf()
        )
        nodes, links = get_snapshot(subset, q)
        try:
            attrs = analyze(nodes, links)
        except AnalyzeError as e:
            print(str(e), file=sys.stderr)
            continue
        root_ip = attrs.root
        if "://" in root_ip:
            root_ip = root_ip.split("://", 1)[1].strip("[]")
        if attrs.time is None:
            print("The graph has no timestamp.", file=sys.stderr)
            continue
        ts_text = format_timestamp(from_epoch_ms(attrs.time))
        print(f"Root of the {label} graph: {root_ip}", file=sys.stderr)
        print(f"Timestamp of the {label} graph: {ts_text}", file=sys.stderr)
        print(
            f"{label}: DODAGAttributes {{node_num = {attrs.node_num}, "
            f"edge_num = {attrs.edge_num}, depth = {attrs.depth}, "
            f"root = {root_ip}, time = {ts_text}}}"
        )
    return 0


def main(argv: Optional[Sequence[str]] = None,
         spark: Optional[SparkSession] = None) -> int:
    args = build_parser().parse_args(argv)
    own_session = spark is None
    if spark is None:
        import os

        cpus = os.cpu_count() or 8
        spark = (
            SparkSession.builder.master("local[*]")
            .appName("net_spider_spark_cli")
            .config("spark.sql.session.timeZone", "UTC")
            # size shuffles to the machine, not the 200 default
            .config("spark.sql.shuffle.partitions", str(cpus))
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
        spark.sparkContext.setLogLevel("WARN")
    try:
        if args.command == "clear":
            clear_all(spark, args.db)
            return 0
        if args.command == "compact":
            from net_spider_spark.ingest import compact_history

            stats = compact_history(
                spark,
                args.db,
                target_rows_per_file=args.target_rows,
                zorder=args.zorder,
            )
            print(
                f"compacted {stats['rows']} findings"
                f"{' (z-ordered)' if args.zorder else ''}: "
                f"{stats['files_before']} -> {stats['files_after']} files",
                file=sys.stderr,
            )
            return 0
        if args.command == "input":
            return _do_input(spark, args)
        if args.command == "snapshot":
            return _do_snapshot(spark, args)
        if args.command == "analyze":
            return _do_analyze(spark, args)
        if args.command == "cis":
            clear_all(spark, args.db)
            rc = _do_input(spark, args)
            return rc or _do_snapshot(spark, args)
        raise AssertionError(args.command)
    finally:
        if own_session:
            spark.stop()


if __name__ == "__main__":
    sys.exit(main())
