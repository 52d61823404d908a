"""CLI — the spark-submit entry point.

    spark-submit --py-files nebula_importer_spark.zip -m ...   (cluster)
    python -m nebula_importer_spark import -c config.yaml -o out/   (local)
    python -m nebula_importer_spark kg --turns 100000 -o out/ [--resume]
    python -m nebula_importer_spark kg --input t.parquet --aliases a.parquet \
        [--same-as s.parquet] -o out/
    python -m nebula_importer_spark statements -c config.yaml -o out/

``import`` is the reference-CLI analog (nebula-importer -c config.yaml,
reference pkg/cmd/nebula-importer.go:50-80): parse+validate config → run →
per-element stats printed → exit 1 if anything was rejected (M4 exit
semantics, reference pkg/cmd/nebula-importer.go:126-128).

``kg`` runs the north-star transcript→triple pipeline end-to-end on a
deterministic generated corpus (or a parquet/Iceberg table via --input) and
is resumable from the snapshot manifest (--resume). Real transcripts link
against the caller's alias dictionary (--aliases: alias, entity_id) and
equivalences (--same-as: entity_id, dup_id); the generated corpus's own
dictionary is the default only for generated transcripts.
"""

from __future__ import annotations

import argparse
import sys


def _cmd_import(args: argparse.Namespace) -> int:
    from nebula_importer_spark.config.parse import load_config
    from nebula_importer_spark.plans.pipeline import Pipeline
    from nebula_importer_spark.session import get_spark

    cfg = load_config(args.config)
    spark = get_spark("nebula-importer-spark", master=args.master)
    result = Pipeline(cfg, spark).run(args.output, resume=args.resume)
    print(result.to_json())
    return 1 if result.is_failed() else 0


def _cmd_kg(args: argparse.Namespace) -> int:
    if args.input and not args.aliases:
        print(
            "error: kg --input needs --aliases (a parquet alias dictionary "
            "with columns alias, entity_id); the generated corpus's "
            "dictionary cannot link real transcripts",
            file=sys.stderr,
        )
        return 2

    import json

    from nebula_importer_spark.session import get_spark
    from nebula_importer_spark.transcripts.generate import (
        gen_corpus_local,
        gen_transcripts_spark,
    )
    from nebula_importer_spark.transcripts.pipeline import TranscriptPipeline

    spark = get_spark("kg-pipeline", master=args.master)
    if args.input:
        transcripts = spark.read.parquet(args.input)
    else:
        transcripts = gen_transcripts_spark(spark, n_turns=args.turns)
    if args.aliases:
        alias_dict = spark.read.parquet(args.aliases)
        same_as = spark.read.parquet(args.same_as) if args.same_as else None
    else:
        # alias dictionary + equivalences from the deterministic corpus universe
        d = gen_corpus_local(seed=42, n_convs=1, turns_per_conv=1).to_spark(spark)
        alias_dict, same_as = d["alias_dict"], d["same_as"]
    pipe = TranscriptPipeline(spark)
    res = pipe.run(transcripts, alias_dict, same_as, args.output, resume=args.resume)
    print(
        json.dumps(
            {
                "turns": res.turns,
                "triples": res.triples,
                "unlinked": res.unlinked_mentions,
                "turns_per_sec": round(res.turns_per_sec(), 1),
                "stages": {k: round(v, 2) for k, v in res.stages.items()},
            }
        )
    )
    return 0


def _cmd_statements(args: argparse.Namespace) -> int:
    """Render the literal nGQL statement stream (plans/ngql.py) for one or
    all elements of a config — text files a nebula-console/graphd loader
    can replay, written distributed (one part per partition)."""
    from nebula_importer_spark.config.model import ConfigError
    from nebula_importer_spark.config.parse import load_config
    from nebula_importer_spark.plans.pipeline import Pipeline
    from nebula_importer_spark.session import get_spark

    cfg = load_config(args.config)
    spark = get_spark("nebula-importer-spark", master=args.master)
    p = Pipeline(cfg, spark)
    # tag and edge names are independent namespaces → separate output
    # subdirs, each rendered exactly once
    targets = [("tag", n) for n in cfg.tag_names()] + [
        ("edge", n) for n in cfg.edge_names()
    ]
    if args.element:
        targets = [(k, n) for k, n in targets if n == args.element]
        if not targets:
            raise ConfigError(f"element {args.element!r} not in config")
    with p:  # close() deletes the scans the reads staged
        for kind, name in targets:
            df = p.statements(name, batch=args.batch, kind=kind)
            path = f"{args.output}/{kind}s/{name}.ngql"
            df.select("statement").write.mode("overwrite").text(path)
            print(f"{kind} {name}: statements written to {path}/")
    return 0


def _version_string() -> str:
    """Build-info banner (reference pkg/version/version.go GetVersion:
    version/commit/runtime/platform; cobra --version flag at
    pkg/cmd/nebula-importer.go:81-86). Commit/build-date are undefined for
    a source checkout, like the reference's un-stamped default build."""
    import platform

    import pyspark

    from nebula_importer_spark import __version__

    return (
        f"nebula_importer_spark version {__version__}\n"
        f"pyspark: {pyspark.__version__}\n"
        f"python: {platform.python_version()}\n"
        f"platform: {platform.system().lower()}/{platform.machine()}"
    )


def _cmd_sniff(args: argparse.Namespace) -> int:
    """Sniff a headered CSV and print a ready-to-edit source config —
    the missing first step of the reference workflow (its YAML is
    hand-written; operators/profile.py:infer_column_types +
    config/suggest.py:suggest_source_config write the draft)."""
    from nebula_importer_spark.config.suggest import suggest_source_config
    from nebula_importer_spark.session import get_spark

    spark = get_spark("nebula-importer-sniff", master=args.master)
    df = (
        spark.read.option("header", True)
        .option("delimiter", args.delimiter)
        .csv(args.path)
    )
    block = suggest_source_config(
        df,
        path=args.path,
        tag_name=args.tag,
        id_col=args.id_col,
        delimiter=args.delimiter,
    )
    print("sources:")
    print(block, end="")
    return 0


def _cmd_validate(args: argparse.Namespace) -> int:
    """Dry-run config validation: parse + compile every element through
    the import's own mapping WITHOUT reading any data — the CI pre-flight
    the reference only provides implicitly by failing at import time.
    Each element is mapped over an empty all-string frame as wide as the
    columns it reads (``config.model.element_columns``, filter refs
    included). Prints one line per element with that minimum source
    width; exit 2 on any config error."""
    from nebula_importer_spark.config.model import element_columns
    from nebula_importer_spark.config.parse import load_config
    from nebula_importer_spark.plans.pipeline import elements
    from nebula_importer_spark.session import get_spark

    cfg = load_config(args.config)
    # Column construction needs a JVM; a local[1] session is the dry-run
    # cost (no data is read)
    spark = get_spark("nebula-importer-validate", master=args.master or "local[1]")

    els = elements(cfg)
    for el in els:
        spec = el.spec
        width = max((i for i, _ in element_columns(spec)), default=-1) + 1
        schema = ", ".join(f"_c{i} string" for i in range(max(width, 1)))
        el.map(spark.createDataFrame([], schema))
        print(
            f"ok {el.kind} {spec.name}: source={cfg.sources[el.source].path} "
            f"props={len(spec.props)} min_columns={width} mode={spec.mode.value}"
            + (f" filter={spec.filter!r}" if spec.filter else "")
        )
    print(f"config valid: {len(cfg.sources)} sources, {len(els)} elements")
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="nebula_importer_spark")
    # lazy banner: argparse's version= evaluates at PARSER construction, so
    # the eager form would import pyspark (multi-second) on every CLI call
    # including --help and argument errors
    class _Version(argparse.Action):
        def __call__(self, parser, *a, **k):  # noqa: ANN001, ANN002, ANN003
            print(_version_string())  # stdout, like argparse's version action
            parser.exit()

    ap.add_argument("--version", action=_Version, nargs=0)
    sub = ap.add_subparsers(dest="cmd", required=True)

    imp = sub.add_parser("import", help="run a tag/edge schema config")
    imp.add_argument("-c", "--config", required=True)
    imp.add_argument("-o", "--output", required=True)
    imp.add_argument("--master", default=None)
    imp.add_argument("--resume", action="store_true")
    imp.set_defaults(fn=_cmd_import)

    kg = sub.add_parser("kg", help="run the transcript→triple KG pipeline")
    kg.add_argument("--input", default=None, help="parquet transcript table")
    kg.add_argument(
        "--aliases", default=None,
        help="parquet alias dictionary (alias, entity_id); required with --input",
    )
    kg.add_argument(
        "--same-as", dest="same_as", default=None,
        help="parquet entity equivalences (entity_id, dup_id)",
    )
    kg.add_argument("--turns", type=int, default=100_000)
    kg.add_argument("-o", "--output", required=True)
    kg.add_argument("--master", default=None)
    kg.add_argument("--resume", action="store_true")
    kg.set_defaults(fn=_cmd_kg)

    st = sub.add_parser(
        "statements", help="render nGQL statement files for a config"
    )
    st.add_argument("-c", "--config", required=True)
    st.add_argument("-o", "--output", required=True)
    st.add_argument("--element", default=None, help="one tag/edge (default all)")
    st.add_argument("--batch", type=int, default=None)
    st.add_argument("--master", default=None)
    st.set_defaults(fn=_cmd_statements)

    sn = sub.add_parser(
        "sniff", help="infer types from a headered CSV, print a source config"
    )
    sn.add_argument("path")
    sn.add_argument("--tag", required=True)
    sn.add_argument("--id-col", dest="id_col", default=None)
    sn.add_argument("--delimiter", default=",")
    sn.add_argument("--master", default=None)
    sn.set_defaults(fn=_cmd_sniff)

    va = sub.add_parser(
        "validate", help="dry-run: parse + compile a config, read no data"
    )
    va.add_argument("-c", "--config", required=True)
    va.add_argument("--master", default=None)
    va.set_defaults(fn=_cmd_validate)

    args = ap.parse_args(argv)
    try:
        return args.fn(args)
    except FileNotFoundError as e:
        print(f"error: {e}", file=sys.stderr)
        return 2
    except Exception as e:  # config/validation errors get one clean line
        from nebula_importer_spark.config.model import ConfigError
        from nebula_importer_spark.plans.pipeline import HookError

        if isinstance(e, ConfigError):
            print(f"config error: {e}", file=sys.stderr)
            return 2
        if isinstance(e, HookError):
            # A failing before/after hook aborts the import (reference
            # pkg/manager/manager.go:285-336).
            print(f"hook error: {e}", file=sys.stderr)
            return 1
        raise


if __name__ == "__main__":
    sys.exit(main())
