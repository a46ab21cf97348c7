"""Command-line entry point — the ``zavod`` CLI surface re-expressed
(``zavod/zavod/cli/etl.py:95-154`` analogue).

    python -m opensanctions_spark run --statements s.parquet --dataset us_x \
        --archive /data/archive --out /data/export [--assert entity_count:min:10]
    python -m opensanctions_spark query a1_entity_assembly --sf-dir /root/testdata/sf0.01
    python -m opensanctions_spark list

``run`` executes the full pipeline for one dataset version (timestamp
propagation, versioned archive write, entity assembly, validation,
all export sinks, ADD/MOD/DEL delta) and prints the run manifest as JSON.
``query`` runs any catalog operator and prints a bounded sample;
``list`` enumerates the catalog.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import sys


def assertion(spec: str):
    """``--assert`` value → ``Assertion``; a malformed spec is reported
    by argparse as a usage error."""
    from opensanctions_spark.plans.run import Assertion

    return Assertion.parse(spec)


def _cmd_run(args: argparse.Namespace) -> int:
    from opensanctions_spark.plans.run import DatasetConfig, run_dataset
    from opensanctions_spark.session import get_session
    from opensanctions_spark.sources.archive import StatementArchive

    if getattr(args, "config", None):
        config = DatasetConfig.from_file(args.config)
    else:
        if not args.dataset:
            print("error: either --config or --dataset is required",
                  file=sys.stderr)
            return 2
        config = DatasetConfig(name=args.dataset, assertions=args.asserts or [])
    spark = get_session(f"osp-run-{config.name}")
    spark.sparkContext.setLogLevel("WARN")
    statements = spark.read.parquet(args.statements)
    try:
        result = run_dataset(
            spark,
            statements,
            config,
            StatementArchive(spark, args.archive),
            out_dir=args.out,
            run_time=args.run_time,
        )
    except AssertionError as exc:  # fatal min-assertion aborts the run
        print(f"run aborted: {exc}", file=sys.stderr)
        return 1
    print(json.dumps(dataclasses.asdict(result), indent=2, default=str))
    return 1 if result.violations else 0


def _cmd_crawl(args: argparse.Namespace) -> int:
    """`zavod crawl` analogue: statements → one immutable archive version
    (timestamp propagation included), no validation or export."""
    from opensanctions_spark.plans.run import crawl_dataset
    from opensanctions_spark.session import get_session
    from opensanctions_spark.sources.archive import StatementArchive

    spark = get_session(f"osp-crawl-{args.dataset}")
    spark.sparkContext.setLogLevel("WARN")
    statements = spark.read.parquet(args.statements)
    version = crawl_dataset(
        spark, statements, args.dataset,
        StatementArchive(spark, args.archive), run_time=args.run_time,
    )
    print(json.dumps({"dataset": args.dataset, "version": version}))
    return 0


def _cmd_analyze(args: argparse.Namespace) -> int:
    """Run the DISTRIBUTED graph risk-topic analyzer (the engine's
    ann_graph_topics: ``operators/graph.py risk_propagation_statements``)
    over the archived input datasets and write the patch statements as a
    new archive version of the analyzer dataset. ``--max-hops N`` loops
    the one-hop pass to convergence in one invocation (the reference
    converges across nightly re-runs); each extra hop feeds the emitted
    patches back as analyzer-dataset statements, exactly the
    self-observing descent the reference documents."""
    from pyspark.sql import functions as F

    from opensanctions_spark.operators.graph import risk_propagation_statements
    from opensanctions_spark.operators.resolve import (
        apply_canonical,
        canonicalize_values,
    )
    from opensanctions_spark.plans.run import crawl_dataset
    from opensanctions_spark.session import get_session, materialize
    from opensanctions_spark.sources.archive import StatementArchive

    if args.max_hops < 1:
        raise SystemExit("analyze: --max-hops must be >= 1")
    spark = get_session(f"osp-analyze-{args.dataset}")
    spark.sparkContext.setLogLevel("WARN")
    archive = StatementArchive(spark, args.archive)
    # the analyzer reads the EXTERNAL view: enrichment passengers are
    # exactly the entities the rules need to evaluate
    stmts = archive.read_collection(args.inputs.split(","), external=True)
    if args.canonical_map:
        mapping = spark.read.parquet(args.canonical_map)
        stmts = canonicalize_values(apply_canonical(stmts, mapping), mapping)
    emitted = None
    frontier = None  # hop 1 derives seeds from the statements themselves
    hops = 0
    converged = False
    for hop_i in range(args.max_hops + 1):
        patch = risk_propagation_statements(
            stmts, analyzer_dataset=args.dataset, seed_topics=frontier
        )
        fresh = (
            patch
            if emitted is None
            else patch.join(
                emitted.select("entity_id", "value").distinct(),
                ["entity_id", "value"],
                "left_anti",
            )
        )
        if hop_i == args.max_hops:
            # budget exhausted: this last pass is a convergence PROBE
            # only — an emptiness check on the plan, never a checkpoint
            # of a patch that would be discarded
            if fresh.limit(1).count() == 0:
                converged = True
            else:
                # patches still flowing: keep what converged so far but
                # say so loudly (the operator raises in this case; the
                # CLI records the truncation in the manifest)
                print(
                    f"# WARNING: not converged within --max-hops"
                    f" {args.max_hops}; the written patch set is truncated",
                    file=sys.stderr,
                )
            break
        fresh = fresh.transform(materialize, eager=True, sever=True)
        if fresh.limit(1).count() == 0:
            converged = True
            if emitted is None:
                emitted = fresh  # checkpointed empty frame, right schema
            break
        hops += 1
        emitted = fresh if emitted is None else emitted.unionByName(fresh)
        emitted = emitted.transform(materialize, eager=True, sever=True)
        # next hop seeds ONLY from this hop's fresh topics (the frontier
        # bound of propagate_risk_topics_converged — suppression derives
        # from other-dataset statements and never grows with own emits,
        # so anything an older seed could emit was already emitted)
        frontier = (
            fresh.filter(F.col("prop") == "topics")
            .select(
                F.col("canonical_id").alias("entity_id"),
                F.col("value").alias("topic"),
            )
            .distinct()
        )
        stmts = stmts.unionByName(fresh.select(*stmts.columns)).transform(
            materialize, eager=True, sever=True
        )
    n = emitted.count()
    version = crawl_dataset(
        spark, emitted, args.dataset, archive, run_time=args.run_time
    )
    print(
        json.dumps(
            {"dataset": args.dataset, "version": version,
             "patches": n, "hops": hops, "converged": converged,
             "external": int(emitted.filter(F.col("external")).count())}
        )
    )
    return 0


def _cmd_validate(args: argparse.Namespace) -> int:
    """`zavod validate` analogue: rebuild the entity view from the
    archive and run validators + assertions without exporting."""
    from opensanctions_spark.plans.run import validate_dataset
    from opensanctions_spark.session import get_session
    from opensanctions_spark.sources.archive import StatementArchive

    spark = get_session(f"osp-validate-{args.dataset}")
    spark.sparkContext.setLogLevel("WARN")
    manifest = validate_dataset(
        spark, StatementArchive(spark, args.archive), args.dataset,
        assertions=args.asserts or [], version=args.version,
    )
    print(json.dumps(manifest, indent=2, default=str))
    return 1 if any(v.startswith("error") for v in manifest["violations"]) else 0


def _cmd_export(args: argparse.Namespace) -> int:
    """`zavod export` analogue: all sinks + K12 metadata + delta from one
    archived version, never re-crawling."""
    from opensanctions_spark.plans.run import export_dataset
    from opensanctions_spark.session import get_session
    from opensanctions_spark.sources.archive import StatementArchive

    spark = get_session(f"osp-export-{args.dataset}")
    spark.sparkContext.setLogLevel("WARN")
    archive = StatementArchive(spark, args.archive)
    if args.version is not None and args.as_of is not None:
        print("error: --version and --as-of are mutually exclusive",
              file=sys.stderr)
        return 2
    version = args.version
    if version is None and args.as_of is not None:
        # time-travel export: resolve the successful version at the
        # timestamp, then export it like any pinned version
        try:
            version = archive.resolve_as_of(args.dataset, args.as_of)
        except FileNotFoundError as exc:
            print(f"error: {exc}", file=sys.stderr)
            return 2
    manifest = export_dataset(
        spark, archive, args.dataset,
        out_dir=args.out, run_time=args.run_time, version=version,
    )
    print(json.dumps(manifest, indent=2, default=str))
    return 0


def _cmd_publish(args: argparse.Namespace) -> int:
    """`zavod publish` analogue: archive the run artifacts under the
    version directory, release-copy the listed resources, promote the
    version to the backfill pointer."""
    from opensanctions_spark.plans.publish import publish_dataset
    from opensanctions_spark.sources.archive import StatementArchive

    # pure-filesystem operation: no Spark session (JVM spin-up) needed
    result = publish_dataset(
        StatementArchive(None, args.archive),
        args.dataset,
        artifacts_dir=args.artifacts,
        version=args.version,
        release=args.release,
        republish_to_latest=not args.no_latest,
        store_base=args.store,
    )
    for name in result.stale_latest:
        print(f"warning: stale file in datasets/latest/{args.dataset}: {name}",
              file=sys.stderr)
    print(json.dumps(dataclasses.asdict(result), indent=2))
    return 0


def _cmd_catalog(args: argparse.Namespace) -> int:
    """Write the collection-level catalog.json across exported dataset
    directories (the CATALOG_FILE analogue)."""
    from opensanctions_spark.exporters.metadata import write_catalog

    catalog = write_catalog(args.out, args.dataset_dirs, run_time=args.run_time)
    print(
        json.dumps(
            {
                "datasets": catalog["dataset_count"],
                "entity_count": catalog["entity_count"],
                "target_count": catalog["target_count"],
            }
        )
    )
    return 0


def _cmd_dump(args: argparse.Namespace) -> int:
    """`zavod dump-file` analogue (``zavod/zavod/tools/dump_file.py``):
    dump a collection scope's statements — resolver applied, deduplicated
    on statement id — to csv/json/parquet."""
    from opensanctions_spark.exporters.jdbc import prepare_statements_for_db
    from opensanctions_spark.session import get_session
    from opensanctions_spark.sources.archive import StatementArchive

    spark = get_session("osp-dump")
    spark.sparkContext.setLogLevel("ERROR")
    archive = StatementArchive(spark, args.archive)
    stmts = archive.read_collection(
        args.datasets.split(","), external=args.external
    )
    if args.canonical_map:
        from opensanctions_spark.operators.resolve import apply_canonical

        stmts = apply_canonical(
            stmts, spark.read.parquet(args.canonical_map)
        )
    prepared = prepare_statements_for_db(stmts)
    if args.single_file:
        prepared = prepared.orderBy("id").coalesce(1)
    if args.format == "csv":
        prepared.write.mode("overwrite").option("header", True).csv(args.out)
    elif args.format == "json":
        prepared.write.mode("overwrite").json(args.out)
    else:
        prepared.write.mode("overwrite").parquet(args.out)
    n = spark.read.format(
        "parquet" if args.format == "parquet" else args.format
    ).option("header", True).load(args.out).count()
    print(json.dumps({"out": args.out, "format": args.format, "statements": n}))
    return 0


def _cmd_load_db(args: argparse.Namespace) -> int:
    """`zavod load-db` (``zavod/zavod/cli/util.py:16-36`` →
    ``tools/load_db.py:15-41``): archive statements — resolver applied,
    deduplicated on statement id — into an RDBMS. With ``--url`` the
    write goes through ``df.write.jdbc`` (driver jar required at
    runtime); with ``--out`` the SAME prepared frame lands as parquet
    for a SQL bulk loader — the container has no JDBC driver, so the
    prepared-dump path is the testable form of the identical plan."""
    from opensanctions_spark.exporters.jdbc import (
        load_db,
        prepare_statements_for_db,
    )
    from opensanctions_spark.session import get_session
    from opensanctions_spark.sources.archive import StatementArchive

    spark = get_session("osp-load-db")
    spark.sparkContext.setLogLevel("ERROR")
    archive = StatementArchive(spark, args.archive)
    stmts = archive.read_collection(
        args.datasets.split(","), external=args.external
    )
    if args.canonical_map:
        from opensanctions_spark.operators.resolve import apply_canonical

        stmts = apply_canonical(stmts, spark.read.parquet(args.canonical_map))
    if args.url:
        load_db(stmts, args.url, args.table or "statements",
                batch_size=args.batch_size)
        print(json.dumps({"url": args.url, "table": args.table or "statements"}))
        return 0
    if not args.out:
        raise SystemExit("load-db needs --url (JDBC) or --out (prepared dump)")
    prepared = prepare_statements_for_db(stmts)
    prepared.write.mode("overwrite").parquet(args.out)
    n = spark.read.parquet(args.out).count()
    print(json.dumps({"out": args.out, "statements": n}))
    return 0


def _cmd_clear(args: argparse.Namespace) -> int:
    """`zavod clear` (``zavod/zavod/cli/util.py:62-70``): delete the
    dataset's working data + state dirs (the versioned statement archive
    is governed by gc/retention, not by clear)."""
    from opensanctions_spark.archive import clear_data_path

    clear_data_path(args.dataset)
    print(json.dumps({"cleared": args.dataset}))
    return 0


def _cmd_wikidata_reconcile(args: argparse.Namespace) -> int:
    """`zavod wikidata-reconcile` (``zavod/zavod/cli/dedupe.py:86-168``)
    headless form: Person entities → candidate search through the
    registered wikidata client → stream-driven review →
    judgements into the decisions frame + a QuickStatements batch."""
    import sys as _sys
    from types import SimpleNamespace

    from pyspark.sql import functions as F

    from opensanctions_spark.crawler import Entity, Schema
    from opensanctions_spark.plans.wikidata_reconcile import (
        reconcile_loop,
        serialize,
    )
    from opensanctions_spark.plans.xref import apply_judgements
    from opensanctions_spark.session import get_session, materialize
    from opensanctions_spark.shed.wikidata.client import (
        create_wikidata_client,
    )

    spark = get_session("osp-wd-reconcile")
    spark.sparkContext.setLogLevel("ERROR")
    ents = spark.read.parquet(args.entities)
    rows = (
        ents.filter(F.col("schema") == "Person")
        .select("canonical_id", "schema", "properties")
        .limit(args.limit)
        .collect()
    )
    persons = []
    for r in rows:
        e = Entity(Schema(r["schema"]))
        e.id = r["canonical_id"]
        for prop, values in (r["properties"] or {}).items():
            e.add(prop, values)
        persons.append(e)
    ctx = SimpleNamespace(name="wikidata-reconcile", metadata={})
    client = create_wikidata_client(ctx)
    judgements, commands = reconcile_loop(
        persons, client, _sys.stdin, _sys.stdout,
        source_url=args.source_url, retrieved=args.retrieved,
    )
    if args.decisions:
        decisions = spark.read.parquet(args.decisions)
    else:
        decisions = spark.createDataFrame(
            [],
            "left_id STRING, right_id STRING, score DOUBLE, "
            "judgement STRING",
        )
    updated = apply_judgements(decisions, [
        (eid, qid, j) for eid, qid, j in judgements
    ])
    if args.decisions and (
        os.path.abspath(args.out) == os.path.abspath(args.decisions)
    ):
        updated = updated.transform(materialize, eager=True, sever=True)
    updated.write.mode("overwrite").parquet(args.out)
    text = serialize(commands)
    with open(args.qs, "w") as fh:
        fh.write(text + "\n" if text else "")
    print(json.dumps({
        "decisions": args.out, "judged": len(judgements),
        "quickstatements": args.qs, "commands": len(commands),
    }))
    return 0


def _cmd_enrich(args: argparse.Namespace) -> int:
    """`zavod enrich` analogue (§3.2): match a subject scope against a
    target store, apply resolver judgements, and expand the internal
    emission subgraph. Optional inputs default to: no prior judgements,
    every target publishable, no graph expansion."""
    from opensanctions_spark.plans.enrich import (
        EnrichConfig,
        enrich_judged,
        enrich_outputs,
    )
    from opensanctions_spark.session import get_session

    spark = get_session("osp-enrich")
    spark.sparkContext.setLogLevel("ERROR")
    subjects = spark.read.parquet(args.subjects)
    targets = spark.read.parquet(args.targets)
    edges = (
        spark.read.parquet(args.edges)
        if args.edges
        else spark.createDataFrame([], "src STRING, dst STRING")
    )
    judgements = (
        spark.read.parquet(args.judgements)
        if args.judgements
        else spark.createDataFrame(
            [], "left_id STRING, right_id STRING, judgement STRING"
        )
    )
    publishable = (
        spark.read.parquet(args.publishable)
        if args.publishable
        else targets.select("id")
    )
    cfg = EnrichConfig(
        cutoff=args.cutoff, top_k=args.top_k, expand_depth=args.expand_depth
    )
    # persist the shared matching upstream: candidates AND the internal
    # subgraph both derive from it, and the subject×target blocking join
    # is the expensive stage — without this the second write re-runs it
    judged = enrich_judged(subjects, targets, judgements, cfg).persist()
    try:
        candidates, internal = enrich_outputs(judged, edges, publishable, cfg)
        os.makedirs(args.out, exist_ok=True)
        candidates.write.mode("overwrite").parquet(
            os.path.join(args.out, "candidates.parquet")
        )
        internal.write.mode("overwrite").parquet(
            os.path.join(args.out, "internal.parquet")
        )
    finally:
        judged.unpersist()
    print(json.dumps({
        "candidates": spark.read.parquet(
            os.path.join(args.out, "candidates.parquet")).count(),
        "internal": spark.read.parquet(
            os.path.join(args.out, "internal.parquet")).count(),
        "out": args.out,
    }))
    return 0


def _cmd_compact(args: argparse.Namespace) -> int:
    """Rewrite the latest successful version into ~target-size files as
    a new version (SCALE.md §13 small-file compaction)."""
    from opensanctions_spark.session import get_session
    from opensanctions_spark.sources.archive import StatementArchive

    spark = get_session("osp-compact")
    archive = StatementArchive(spark, args.archive)
    new_version = archive.compact(
        args.dataset,
        target_bytes=args.target_mb * 1024 * 1024,
        version=args.version,
    )
    if new_version is None:
        print(f"{args.dataset}: already compact — no rewrite")
    else:
        print(f"{args.dataset}: compacted into version {new_version}")
    return 0


def _cmd_gc(args: argparse.Namespace) -> int:
    """Prune version directories that fell out of the archive's retention
    window (the manifest bounds the id list; gc reclaims the files)."""
    from opensanctions_spark.sources.archive import StatementArchive

    # filesystem-only unless bucketed version dirs exist — those carry a
    # metastore table whose catalog entry must drop with the files, or
    # is_bucketed() misreports and later reads fail at scan time. A fresh
    # CLI process has no active session, so probe the directories first
    # and only pay the JVM spin-up when a bucketed dir is present.
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is None and StatementArchive.has_bucketed_dirs(
        args.archive, args.dataset
    ):
        from opensanctions_spark.session import get_session

        spark = get_session("osp-gc")
        spark.sparkContext.setLogLevel("ERROR")
    archive = StatementArchive(spark, args.archive)
    deleted = archive.gc(args.dataset)
    print(json.dumps({"dataset": args.dataset, "deleted": deleted}))
    return 0


def _cmd_dedupe_next(args: argparse.Namespace) -> int:
    """`zavod dedupe` queue view, headless: print the best UNSURE
    candidates best-first (the TUI's pop order)."""
    from opensanctions_spark.plans.xref import review_queue
    from opensanctions_spark.session import get_session

    spark = get_session("osp-dedupe-next")
    spark.sparkContext.setLogLevel("ERROR")
    rows = review_queue(spark.read.parquet(args.decisions)).limit(args.limit)
    for r in rows.collect():
        print(json.dumps({
            "left_id": r["left_id"], "right_id": r["right_id"],
            "score": r["score"],
        }))
    return 0


def _cmd_dedupe_judge(args: argparse.Namespace) -> int:
    """`zavod dedupe` decision write, headless: record one judgement on a
    candidate pair and persist the updated decisions."""
    from pyspark.sql import functions as F

    from opensanctions_spark.plans.xref import apply_judgement
    from opensanctions_spark.session import get_session, materialize

    spark = get_session("osp-dedupe-judge")
    spark.sparkContext.setLogLevel("ERROR")
    decisions = spark.read.parquet(args.decisions)
    updated = apply_judgement(decisions, args.left, args.right, args.judgement)
    if os.path.abspath(args.out) == os.path.abspath(args.decisions):
        # in-place update (the natural repeated-judging loop): cut the
        # lineage off the source path before overwriting it, or Spark
        # refuses ("cannot overwrite a path that is also being read from")
        updated = updated.transform(materialize, eager=True, sever=True)
    updated.write.mode("overwrite").parquet(args.out)
    back = spark.read.parquet(args.out)
    n_unsure = back.filter(F.col("judgement") == "UNSURE").count()
    print(json.dumps({
        "decisions": args.out,
        "judged": {"left_id": min(args.left, args.right),
                   "right_id": max(args.left, args.right),
                   "judgement": args.judgement.upper()},
        "remaining_unsure": n_unsure,
    }))
    return 0


def _cmd_dedupe(args: argparse.Namespace) -> int:
    """`zavod dedupe` (``zavod/zavod/cli/dedupe.py:72-84``): the
    interactive review loop over the best UNSURE candidates — render
    both entities' cards, read p/n/u/q from stdin, bulk-apply the
    session's judgements and persist the updated decisions."""
    import sys as _sys

    from opensanctions_spark.plans.dedupe_ui import dedupe_review_loop
    from opensanctions_spark.session import get_session, materialize

    spark = get_session("osp-dedupe")
    spark.sparkContext.setLogLevel("ERROR")
    decisions = spark.read.parquet(args.decisions)
    entities = (
        spark.read.parquet(args.entities) if args.entities else None
    )
    updated, judgements = dedupe_review_loop(
        decisions, entities, _sys.stdin, _sys.stdout, limit=args.limit
    )
    if os.path.abspath(args.out) == os.path.abspath(args.decisions):
        updated = updated.transform(materialize, eager=True, sever=True)
    updated.write.mode("overwrite").parquet(args.out)
    print(json.dumps({
        "decisions": args.out,
        "judged": len(judgements),
    }))
    return 0


def _cmd_xref_prune(args: argparse.Namespace) -> int:
    """`zavod xref-prune` analogue: drop undecided candidate edges from
    the persisted decisions, keep judgements only."""
    from pyspark.sql import functions as F

    from opensanctions_spark.plans.xref import prune_decisions
    from opensanctions_spark.session import get_session

    spark = get_session("osp-xref-prune")
    spark.sparkContext.setLogLevel("WARN")
    decisions = spark.read.parquet(args.decisions)
    kept = prune_decisions(decisions).persist()
    kept.write.mode("overwrite").parquet(args.out)
    print(
        json.dumps(
            {
                "before": decisions.count(),
                "after": kept.count(),
                "kept": {
                    r["judgement"]: r["n"]
                    for r in kept.groupBy("judgement")
                    .agg(F.count("*").alias("n"))
                    .collect()
                },
            }
        )
    )
    return 0


def _cmd_curate(args: argparse.Namespace) -> int:
    from opensanctions_spark.plans.curate import (
        CurationConfig,
        curate_corpus,
        curation_stats,
    )
    from opensanctions_spark.session import get_session

    spark = get_session("osp-curate")
    spark.sparkContext.setLogLevel("WARN")
    docs = spark.read.parquet(args.documents)
    cfg = CurationConfig(
        min_tokens=args.min_tokens,
        max_tokens=args.max_tokens,
        context_tokens=args.context_tokens,
    )
    curated = curate_corpus(docs, cfg)
    if args.out:
        curated.write.mode("overwrite").partitionBy("split").parquet(args.out)
        curated = spark.read.parquet(args.out)
    print(json.dumps(curation_stats(docs, curated), indent=2))
    return 0


def _cmd_xref(args: argparse.Namespace) -> int:
    from opensanctions_spark.plans.xref import XrefConfig, review_queue, xref_and_resolve
    from opensanctions_spark.session import get_session

    spark = get_session("osp-xref")
    spark.sparkContext.setLogLevel("WARN")
    subjects = spark.read.parquet(args.subjects)
    cfg = XrefConfig(
        threshold=args.threshold, top_k=args.top_k, limit=args.limit
    )
    decisions, mapping = xref_and_resolve(subjects, cfg)
    decisions = decisions.persist()
    decisions.write.mode("overwrite").parquet(f"{args.out}/decisions.parquet")
    mapping.write.mode("overwrite").parquet(f"{args.out}/canonical_map.parquet")
    from pyspark.sql import functions as F

    counts = {
        r["judgement"]: r["n"]
        for r in decisions.groupBy("judgement").agg(F.count("*").alias("n")).collect()
    }
    print(
        json.dumps(
            {
                "decisions": counts,
                "merged_entities": mapping.filter("entity_id <> canonical_id").count(),
                "review_queue": review_queue(decisions).count(),
            },
            indent=2,
        )
    )
    decisions.unpersist()
    return 0


def _cmd_query(args: argparse.Namespace) -> int:
    from opensanctions_spark.catalog import QUERIES
    from opensanctions_spark.session import get_session

    fn = QUERIES.get(args.name)
    if fn is None:
        print(f"unknown query {args.name!r} — see `list`", file=sys.stderr)
        return 2
    spark = get_session(f"osp-query-{args.name}")
    spark.sparkContext.setLogLevel("ERROR")
    df = fn(spark, args.sf_dir)
    n = df.count()
    df.show(args.limit, truncate=False)
    print(f"{n} rows")
    return 0


def _cmd_list(args: argparse.Namespace) -> int:
    from opensanctions_spark.catalog import ORACLES, QUERIES

    try:
        for name in sorted(QUERIES):
            marker = "oracle" if name in ORACLES else "rows-only"
            print(f"{name}\t{marker}")
    except BrokenPipeError:  # `... list | head` closing early is fine
        pass
    return 0


def _cmd_merge_cluster(args: argparse.Namespace) -> int:
    """`zavod merge-cluster` analogue: force-merge entity ids by applying
    a POSITIVE judgement between each pair and re-solving only the
    affected components (incremental, never a global recompute)."""
    from pyspark.sql import functions as F

    from opensanctions_spark.operators.resolve import incremental_canonical_map
    from opensanctions_spark.session import get_session

    spark = get_session("osp-merge-cluster")
    spark.sparkContext.setLogLevel("ERROR")
    mapping = spark.read.parquet(args.mapping)
    anchor = args.ids[0]
    new = spark.createDataFrame(
        [(anchor, other, "POSITIVE") for other in args.ids[1:]],
        "left_id string, right_id string, judgement string",
    )
    updated = incremental_canonical_map(mapping, new)
    updated.write.mode("overwrite").parquet(args.out)
    merged = updated.filter(F.col("entity_id").isin(args.ids)).collect()
    print(json.dumps({r["entity_id"]: r["canonical_id"] for r in merged}, indent=2))
    return 0


def _cmd_explode_cluster(args: argparse.Namespace) -> int:
    """`zavod explode-cluster` analogue: retract every POSITIVE judgement
    touching one entity and re-solve only its former component."""
    from opensanctions_spark.operators.resolve import explode_cluster
    from opensanctions_spark.session import get_session

    spark = get_session("osp-explode-cluster")
    spark.sparkContext.setLogLevel("ERROR")
    mapping = spark.read.parquet(args.mapping)
    decisions = spark.read.parquet(args.decisions)
    new_mapping, retained = explode_cluster(mapping, decisions, args.entity_id)
    new_mapping.write.mode("overwrite").parquet(args.out)
    retained.write.mode("overwrite").parquet(args.out_decisions)
    print(
        json.dumps(
            {
                "entities": new_mapping.count(),
                "retained_decisions": retained.count(),
            }
        )
    )
    return 0


def _cmd_dedupe_edges(args: argparse.Namespace) -> int:
    """`zavod dedupe-edges` analogue: merge temporally-compatible edge
    entities sharing endpoints (the composed J7 lifecycle)."""
    from pyspark.sql import functions as F

    from opensanctions_spark.operators.edges import dedupe_edges
    from opensanctions_spark.session import get_session

    spark = get_session("osp-dedupe-edges")
    spark.sparkContext.setLogLevel("ERROR")
    edges = spark.read.parquet(args.edges)
    out = dedupe_edges(
        edges,
        undirected=args.undirected,
        protected_props=args.protected or None,
    )
    out.write.mode("overwrite").parquet(args.out)
    print(
        json.dumps(
            {
                "edges": out.count(),
                "merged": out.filter(F.col("merged")).count(),
            }
        )
    )
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="opensanctions_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    run_p = sub.add_parser("run", help="full dataset pipeline run")
    run_p.add_argument("--statements", required=True, help="statements parquet path")
    run_p.add_argument("--dataset", default=None)
    run_p.add_argument(
        "--config", default=None,
        help="dataset config file (JSON; YAML if pyyaml present) with"
        " name/assertions/published metadata — replaces --dataset/--assert",
    )
    run_p.add_argument("--archive", required=True, help="versioned archive root")
    run_p.add_argument("--out", required=True, help="export output directory")
    run_p.add_argument("--run-time", default="2024-01-01T00:00:00")
    run_p.add_argument(
        "--assert", dest="asserts", action="append", metavar="METRIC:OP:N",
        type=assertion,
        help="assertion, e.g. entity_count:min:10 (repeatable)",
    )
    run_p.set_defaults(fn=_cmd_run)

    cr_p = sub.add_parser("crawl", help="statements → one archive version")
    cr_p.add_argument("--statements", required=True)
    cr_p.add_argument("--dataset", required=True)
    cr_p.add_argument("--archive", required=True)
    cr_p.add_argument("--run-time", default="2024-01-01T00:00:00")
    cr_p.set_defaults(fn=_cmd_crawl)

    an_p = sub.add_parser(
        "analyze",
        help="distributed graph risk-topic analyzer → one archive version",
    )
    an_p.add_argument("--inputs", required=True,
                      help="comma-separated input dataset names")
    an_p.add_argument("--dataset", default="ann_graph_topics")
    an_p.add_argument("--archive", required=True)
    an_p.add_argument("--canonical-map", default=None,
                      help="resolver mapping parquet (ids AND entity-typed "
                           "values rewritten before the rules)")
    an_p.add_argument("--max-hops", type=int, default=1)
    an_p.add_argument("--run-time", default="2024-01-01T00:00:00")
    an_p.set_defaults(fn=_cmd_analyze)

    v_p = sub.add_parser("validate", help="validators + assertions, no export")
    v_p.add_argument("--dataset", required=True)
    v_p.add_argument("--archive", required=True)
    v_p.add_argument("--version", default=None)
    v_p.add_argument(
        "--assert", dest="asserts", action="append", metavar="METRIC:OP:N",
        type=assertion,
        help="assertion, e.g. entity_count:min:10 (repeatable)",
    )
    v_p.set_defaults(fn=_cmd_validate)

    ex_p = sub.add_parser("export", help="all sinks + metadata from one archived version")
    ex_p.add_argument("--dataset", required=True)
    ex_p.add_argument("--archive", required=True)
    ex_p.add_argument("--out", required=True)
    ex_p.add_argument("--version", default=None)
    ex_p.add_argument("--as-of", dest="as_of", default=None,
                      help="export the successful version at/before this "
                           "timestamp (YYYYMMDD[-HHMMSS], inclusive)")
    ex_p.add_argument("--run-time", default="2024-01-01T00:00:00")
    ex_p.set_defaults(fn=_cmd_export)

    c_p = sub.add_parser("curate", help="corpus-curation pipeline run")
    c_p.add_argument("--documents", required=True, help="documents parquet path")
    c_p.add_argument("--out", help="write curated corpus here (partitioned by split)")
    c_p.add_argument("--min-tokens", type=int, default=10)
    c_p.add_argument("--max-tokens", type=int, default=1000)
    c_p.add_argument("--context-tokens", type=int, default=256)
    c_p.set_defaults(fn=_cmd_curate)

    x_p = sub.add_parser("xref", help="record-linkage xref + resolve run")
    x_p.add_argument(
        "--subjects", required=True,
        help="parquet with (id, name, strong_ids, id_numbers)",
    )
    x_p.add_argument("--out", required=True, help="decisions + canonical map dir")
    x_p.add_argument("--threshold", type=float, default=0.7)
    x_p.add_argument("--top-k", type=int, default=10)
    x_p.add_argument("--limit", type=int, default=5000)
    x_p.set_defaults(fn=_cmd_xref)

    pub_p = sub.add_parser(
        "publish", help="release-copy run artifacts + promote the version"
    )
    pub_p.add_argument("--archive", required=True, help="archive base dir")
    pub_p.add_argument("--dataset", required=True)
    pub_p.add_argument("--artifacts", required=True,
                       help="the run's out_dir (export artifacts)")
    pub_p.add_argument("--version", default=None,
                       help="version to publish (default: newest recorded)")
    pub_p.add_argument("--release", default="latest",
                       help="release name (default: latest)")
    pub_p.add_argument("--store", default=None,
                       help="object-store base URI for artifacts/releases "
                            "(e.g. s3a://bucket/prefix with a registered "
                            "backend; default: the archive dir)")
    pub_p.add_argument("--no-latest", action="store_true",
                       help="skip the datasets/latest re-publish")
    pub_p.set_defaults(fn=_cmd_publish)

    cat_p = sub.add_parser(
        "catalog", help="roll dataset indexes into a collection catalog.json"
    )
    cat_p.add_argument("--out", required=True, help="collection root dir")
    cat_p.add_argument("--run-time", default="2024-01-01T00:00:00")
    cat_p.add_argument("dataset_dirs", nargs="+", help="exported dataset dirs")
    cat_p.set_defaults(fn=_cmd_catalog)

    du_p = sub.add_parser(
        "dump", help="dump a collection scope's statements to a file"
    )
    du_p.add_argument("--archive", required=True, help="archive base dir")
    du_p.add_argument("--datasets", required=True,
                      help="comma-separated dataset names")
    du_p.add_argument("--canonical-map", dest="canonical_map", default=None,
                      help="resolver (entity_id, canonical_id) parquet")
    du_p.add_argument("--format", choices=["csv", "json", "parquet"],
                      default="csv")
    du_p.add_argument("--out", required=True)
    du_p.add_argument("--external", action="store_true",
                      help="include enrichment-candidate statements")
    du_p.add_argument("--single-file", dest="single_file",
                      action="store_true", help="one ordered output file")
    du_p.set_defaults(fn=_cmd_dump)

    ldb_p = sub.add_parser(
        "load-db", help="load archive statements into a database (K11)"
    )
    ldb_p.add_argument("--archive", required=True, help="archive base dir")
    ldb_p.add_argument("--datasets", required=True,
                       help="comma-separated dataset names")
    ldb_p.add_argument("--canonical-map", dest="canonical_map", default=None)
    ldb_p.add_argument("--external", action="store_true")
    ldb_p.add_argument("--url", default=None, help="JDBC url")
    ldb_p.add_argument("--table", default=None, help="target table")
    ldb_p.add_argument("--batch-size", dest="batch_size", type=int,
                       default=10000)
    ldb_p.add_argument("--out", default=None,
                       help="prepared-statements parquet (no-JDBC path)")
    ldb_p.set_defaults(fn=_cmd_load_db)

    cl_p = sub.add_parser(
        "clear", help="delete a dataset's working data and state dirs"
    )
    cl_p.add_argument("--dataset", required=True)
    cl_p.set_defaults(fn=_cmd_clear)

    wr_p = sub.add_parser(
        "wikidata-reconcile",
        help="review dataset persons against wikidata candidates",
    )
    wr_p.add_argument("--entities", required=True,
                      help="assembled entities parquet")
    wr_p.add_argument("--decisions", default=None,
                      help="existing decisions parquet (optional)")
    wr_p.add_argument("--out", required=True,
                      help="updated decisions parquet")
    wr_p.add_argument("--qs", required=True,
                      help="QuickStatements v1 output file")
    wr_p.add_argument("--source-url", dest="source_url", default=None)
    wr_p.add_argument("--retrieved", default=None,
                      help="retrieved-on date for citations (ISO)")
    wr_p.add_argument("--limit", type=int, default=25)
    wr_p.set_defaults(fn=_cmd_wikidata_reconcile)

    en_p = sub.add_parser(
        "enrich", help="match subjects against a target store (§3.2)"
    )
    en_p.add_argument("--subjects", required=True, help="(id, name) parquet")
    en_p.add_argument("--targets", required=True, help="(id, name) parquet")
    en_p.add_argument("--edges", default=None, help="(src, dst) parquet")
    en_p.add_argument("--judgements", default=None,
                      help="(left_id, right_id, judgement) parquet")
    en_p.add_argument("--publishable", default=None, help="(id) parquet")
    en_p.add_argument("--out", required=True)
    en_p.add_argument("--cutoff", type=float, default=0.5)
    en_p.add_argument("--top-k", type=int, default=10, dest="top_k")
    en_p.add_argument("--expand-depth", type=int, default=2, dest="expand_depth")
    en_p.set_defaults(fn=_cmd_enrich)

    cp_p = sub.add_parser(
        "compact", help="rewrite a version's small files into ~target-size packs"
    )
    cp_p.add_argument("--archive", required=True, help="archive base dir")
    cp_p.add_argument("--dataset", required=True)
    cp_p.add_argument("--target-mb", type=int, default=128)
    cp_p.add_argument("--version", default=None,
                      help="version id (default: latest successful)")
    cp_p.set_defaults(fn=_cmd_compact)

    gc_p = sub.add_parser(
        "gc", help="delete version dirs outside the retention window"
    )
    gc_p.add_argument("--archive", required=True, help="archive base dir")
    gc_p.add_argument("--dataset", required=True)
    gc_p.set_defaults(fn=_cmd_gc)

    dn_p = sub.add_parser(
        "dedupe-next", help="show the best undecided xref candidates"
    )
    dn_p.add_argument("--decisions", required=True, help="decisions parquet")
    dn_p.add_argument("--limit", type=int, default=10)
    dn_p.set_defaults(fn=_cmd_dedupe_next)

    d_p = sub.add_parser(
        "dedupe", help="interactively decide xref candidates (zavod dedupe)"
    )
    d_p.add_argument("--decisions", required=True, help="decisions parquet")
    d_p.add_argument("--out", required=True, help="updated decisions parquet")
    d_p.add_argument(
        "--entities", help="assembled entities parquet for review cards"
    )
    d_p.add_argument("--limit", type=int, default=25, help="page size")
    d_p.set_defaults(fn=_cmd_dedupe)

    dj_p = sub.add_parser(
        "dedupe-judge", help="record one judgement on a candidate pair"
    )
    dj_p.add_argument("--decisions", required=True, help="decisions parquet")
    dj_p.add_argument("--left", required=True)
    dj_p.add_argument("--right", required=True)
    dj_p.add_argument("--judgement", required=True,
                      choices=["positive", "negative", "unsure"])
    dj_p.add_argument("--out", required=True, help="updated decisions parquet")
    dj_p.set_defaults(fn=_cmd_dedupe_judge)

    xp_p = sub.add_parser(
        "xref-prune", help="drop undecided candidate edges from decisions"
    )
    xp_p.add_argument("--decisions", required=True, help="decisions parquet")
    xp_p.add_argument("--out", required=True, help="pruned decisions parquet")
    xp_p.set_defaults(fn=_cmd_xref_prune)

    m_p = sub.add_parser(
        "merge-cluster", help="force-merge entities into one cluster"
    )
    m_p.add_argument("--mapping", required=True, help="canonical map parquet")
    m_p.add_argument("--out", required=True, help="updated mapping parquet")
    m_p.add_argument("ids", nargs="+", help="entity ids to merge")
    m_p.set_defaults(fn=_cmd_merge_cluster)

    e_p = sub.add_parser(
        "explode-cluster", help="retract merges around one entity"
    )
    e_p.add_argument("--mapping", required=True, help="canonical map parquet")
    e_p.add_argument("--decisions", required=True, help="decisions parquet")
    e_p.add_argument("--out", required=True, help="updated mapping parquet")
    e_p.add_argument(
        "--out-decisions", required=True, help="retained decisions parquet"
    )
    e_p.add_argument("entity_id")
    e_p.set_defaults(fn=_cmd_explode_cluster)

    de_p = sub.add_parser(
        "dedupe-edges", help="merge temporally-compatible duplicate edges"
    )
    de_p.add_argument(
        "--edges", required=True,
        help="parquet with (id, schema, src, tgt, starts, ends[, props])",
    )
    de_p.add_argument("--out", required=True, help="(id, canonical_id, merged) parquet")
    de_p.add_argument("--undirected", action="store_true")
    de_p.add_argument(
        "--protected", action="append", metavar="PROP",
        help="override the per-schema PROTECTED_PROPS default with an"
        " explicit prop list (repeatable); by default the reference's"
        " schema-keyed table applies",
    )
    de_p.set_defaults(fn=_cmd_dedupe_edges)

    q_p = sub.add_parser("query", help="run one catalog query")
    q_p.add_argument("name")
    q_p.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    q_p.add_argument("--limit", type=int, default=20)
    q_p.set_defaults(fn=_cmd_query)

    l_p = sub.add_parser("list", help="list catalog queries")
    l_p.set_defaults(fn=_cmd_list)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
