"""CLI verbs: sync / preview / streams / destination.

Reference: ``packages/core/src/commands/index.ts`` (commander wiring),
``preview.ts:9-48`` (limit-10 preview), ``streams.ts:64-99`` (stream-spec
introspection), ``sync.ts:263-300`` (multi-sync run with per-sync error
isolation and nonzero exit when any failed).

Usage::

    python -m syncmaven_spark.cli sync <project_dir> [--select s1,s2]
        [--full-refresh] [--state DIR] [--sf-dir DIR]
    python -m syncmaven_spark.cli sync --model-sql "select ..." --package file
        --credentials '{"filename": "out.ndjson"}' [--cursor col]
    python -m syncmaven_spark.cli preview <project_dir> <model> [--sf-dir DIR]
    python -m syncmaven_spark.cli streams <package>
"""

from __future__ import annotations

import argparse
import json
import sys

from syncmaven_spark.project import ProjectError, ad_hoc_project, read_project
from syncmaven_spark.runner import run_sync
from syncmaven_spark.session import get_spark, load_tables
from syncmaven_spark.sinks import get_destination
from syncmaven_spark.state import create_store


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="syncmaven-spark")
    sub = p.add_subparsers(dest="command", required=True)

    sync = sub.add_parser("sync", help="run syncs from a project dir or ad-hoc flags")
    sync.add_argument("project_dir", nargs="?", help="project directory")
    sync.add_argument("--select", help="comma-separated sync ids (default: all)")
    sync.add_argument("--full-refresh", action="store_true")
    sync.add_argument(
        "--distributed", action="store_true",
        help="scale path: cursor-range chunked commits + executor-side "
        "delivery (run_sync_distributed) instead of ordered parity mode",
    )
    sync.add_argument(
        "--chunks", type=int, default=8,
        help="checkpoint chunk count for --distributed (default 8)",
    )
    sync.add_argument("--state", help="state dir/file (default <project>/.state)")
    sync.add_argument("--sf-dir", default=None, help="testdata dir to register as views")
    sync.add_argument("-m", "--model-sql", help="ad-hoc: inline model SQL")
    sync.add_argument("-p", "--package", help="ad-hoc: destination package")
    sync.add_argument("-c", "--credentials", help="ad-hoc: credentials JSON")
    sync.add_argument("--cursor", help="ad-hoc: cursor column")
    sync.add_argument("--stream", help="ad-hoc: stream name")

    preview = sub.add_parser("preview", help="print first 10 rows of a model")
    preview.add_argument("project_dir")
    preview.add_argument("model")
    preview.add_argument("--sf-dir", default=None)

    streams = sub.add_parser("streams", help="describe a destination's streams")
    streams.add_argument("package")

    describe = sub.add_parser(
        "describe", help="describe a destination package (streams overview)"
    )
    describe.add_argument("package")

    explain = sub.add_parser(
        "explain",
        help="print the formatted physical plan of a project model or a "
        "catalog query (q:<name>)",
    )
    explain.add_argument("project_dir", nargs="?", help="project directory "
                         "(omit when explaining a q:<name> catalog query)")
    explain.add_argument("model", help="model name, or q:<catalog query name>")
    explain.add_argument("--sf-dir", default=None)

    init = sub.add_parser(
        "init", help="create an empty project directory skeleton"
    )
    init.add_argument("project_dir", help="directory to initialize")

    link = sub.add_parser(
        "link", help="create a sync linking an existing model to a connection"
    )
    link.add_argument("project_dir")
    link.add_argument("--model", required=True)
    link.add_argument("--connection", required=True)
    link.add_argument("--stream", default=None)

    add = sub.add_parser(
        "add", help="add a connection for a destination package"
    )
    add.add_argument("kind", choices=["connection"])
    add.add_argument("package", help="destination package, e.g. file, hubspot")
    add.add_argument("project_dir")
    add.add_argument(
        "-c", "--credentials", default="{}",
        help="credentials JSON (non-interactive stand-in for the "
        "reference's prompt loop)",
    )

    cdev = sub.add_parser(
        "connector-dev",
        help="run one sync synthesized from explicit model/connection files "
        "(the connector development loop and golden-test harness entry)",
    )
    cdev.add_argument("--model-file", required=True)
    cdev.add_argument("--connection-file", required=True)
    cdev.add_argument("--sync", default=None, help="sync file or id")
    cdev.add_argument("--state", default=None)
    cdev.add_argument("--full-refresh", action="store_true")
    cdev.add_argument("--sf-dir", default=None)

    return p


def _cmd_init(project_dir: str) -> int:
    """init.ts:12-44: skeleton dirs + .env + .gitignore in an empty dir."""
    import os
    import subprocess

    os.makedirs(project_dir, exist_ok=True)
    if os.listdir(project_dir):
        print(f"directory is not empty: {project_dir}; init needs an empty dir")
        return 1
    for sub_dir in ("models", "syncs", "connections"):
        os.makedirs(os.path.join(project_dir, sub_dir))
        open(os.path.join(project_dir, sub_dir, ".gitkeep"), "w").close()
    with open(os.path.join(project_dir, ".env"), "w") as f:
        f.write(
            "# Keep secrets such as database connection strings or API keys here\n"
            "SECRET_KEY=supersecret\n"
        )
    with open(os.path.join(project_dir, ".gitignore"), "w") as f:
        f.write(".env\n.state\n")
    try:  # best-effort, like tryGitInit (init.ts:40-43)
        subprocess.run(
            ["git", "init", "-q"], cwd=project_dir, check=False,
            capture_output=True, timeout=10,
        )
    except Exception:
        pass
    print(f"created project at {project_dir}")
    return 0


def _cmd_link(
    project_dir: str, model: str, connection: str, stream: str | None
) -> int:
    """link.ts:20-40: write syncs/<id>.yml for an existing model+connection."""
    import os

    import yaml

    project = read_project(project_dir)
    if model not in project.models:
        print(f"unknown model {model!r}; known: {sorted(project.models)}")
        return 1
    if connection not in project.connections:
        print(
            f"unknown connection {connection!r}; known: "
            f"{sorted(project.connections)}"
        )
        return 1
    base = f"{connection}-{model}" + (f"-{stream}" if stream else "")
    sync_id, i = base, 0
    # uniqueness must hold for the FILE too, not just the declared sync id:
    # an existing syncs/<name>.yml whose id differs from its basename would
    # otherwise be silently clobbered
    def taken(candidate: str) -> bool:
        return candidate in project.syncs or os.path.exists(
            os.path.join(project_dir, "syncs", f"{candidate}.yml")
        )

    while taken(sync_id):
        i += 1
        sync_id = f"{base}-{i}"
    sync: dict = {"id": sync_id, "destination": connection, "model": model}
    if stream:
        sync["stream"] = stream
    path = os.path.join(project_dir, "syncs", f"{sync_id}.yml")
    with open(path, "w") as f:
        yaml.safe_dump(sync, f, sort_keys=False)
    print(f"sync {sync_id} created in {path}")
    return 0


def _cmd_add(project_dir: str, package: str, credentials_json: str) -> int:
    """add.ts connection flow, non-interactive: validate the credentials
    against the destination's describe() schema, write connections/<id>.yml
    with the same unique-basename pick (add.ts:15-31)."""
    import os

    import yaml

    from syncmaven_spark.validate import RowValidator

    provider = get_destination(package)  # raises for unknown packages
    schema = provider.credentials_schema
    creds = json.loads(credentials_json)
    validator = RowValidator(schema)
    if not validator.is_valid(creds):
        print(
            f"credentials do not match {package}'s schema: "
            f"{validator.errors_for(creds)}"
        )
        return 1
    conn_dir = os.path.join(project_dir, "connections")
    os.makedirs(conn_dir, exist_ok=True)
    base = package.split("/")[-1].replace("_", "-").lower()
    conn_id, i = base, 0
    while os.path.exists(os.path.join(conn_dir, f"{conn_id}.yml")):
        i += 1
        conn_id = f"{base}-{i}"
    path = os.path.join(conn_dir, f"{conn_id}.yml")
    with open(path, "w") as f:
        yaml.safe_dump(
            {"package": package, "credentials": creds}, f, sort_keys=False
        )
    print(f"connection {conn_id} created in {path}")
    return 0


def main(argv: list[str] | None = None) -> int:
    try:
        return _main(argv)
    except (ProjectError, ValueError, KeyError) as e:
        # predictable user-input errors (bad --credentials JSON is a
        # ValueError subclass via json.JSONDecodeError, unknown packages
        # raise ValueError/KeyError) print one line instead of a traceback
        print(f"error: {e}")
        return 1


def _main(argv: list[str] | None = None) -> int:
    args = _build_parser().parse_args(argv)

    if args.command == "describe":
        provider = get_destination(args.package)
        spec = provider.describe()
        print(f"destination: {spec['name']}")
        print(f"streams: {', '.join(spec['streams'])}")
        creds = spec.get("connectionCredentials") or {}
        required = set(creds.get("required", []))
        if creds.get("properties"):
            print("credentials:")
            for name, prop in creds["properties"].items():
                mark = "*" if name in required else " "
                desc = f" — {prop['description']}" if prop.get("description") else ""
                print(f"  {mark} {name}: {prop.get('type', 'any')}{desc}")
        return 0

    if args.command == "streams":
        provider = get_destination(args.package)
        for spec in provider.streams():
            print(f"stream: {spec.name}")
            props = spec.row_type.get("properties", {})
            required = set(spec.row_type.get("required", []))
            for name, prop in props.items():
                types = prop.get("type", "any")
                mark = "*" if name in required else " "
                print(f"  {mark} {name}: {types}")
        return 0

    if args.command == "init":
        return _cmd_init(args.project_dir)

    if args.command == "link":
        return _cmd_link(args.project_dir, args.model, args.connection, args.stream)

    if args.command == "add":
        return _cmd_add(args.project_dir, args.package, args.credentials)

    import os

    spark = get_spark(app_name="syncmaven_spark_cli")
    sf_dir = getattr(args, "sf_dir", None) or os.environ.get("SPARK_GRAFT_SF_DIR")
    if sf_dir:
        load_tables(spark, sf_dir)

    if args.command == "connector-dev":
        from syncmaven_spark.project import project_from_files

        project = project_from_files(
            args.model_file, args.connection_file, sync=args.sync
        )
        sync_id = next(iter(project.syncs))
        store = create_store(args.state or "memory://")
        result = run_sync(
            spark, project.syncs[sync_id], store, full_refresh=args.full_refresh
        )
        print(f"[{sync_id}] {result.stats.as_dict()} cursor={result.last_cursor}")
        return 0

    if args.command == "explain":
        # the perf loop: check PushedFilters / WholeStageCodegen spans /
        # join strategies before trusting a plan at scale
        if args.model.startswith("q:"):
            from syncmaven_spark.queries import CATALOG

            name = args.model[2:]
            if name not in CATALOG:
                print(f"unknown catalog query {name!r}")
                return 1
            if not sf_dir:
                print(
                    "explain needs testdata tables: pass --sf-dir or set "
                    "SPARK_GRAFT_SF_DIR (e.g. /root/testdata/sf0.001)"
                )
                return 1
            df = CATALOG[name].spark_fn(spark, sf_dir)
        else:
            if not args.project_dir:
                print("explain requires a project_dir for model queries")
                return 1
            if not sf_dir:
                print(
                    "explain needs the model's tables registered: pass "
                    "--sf-dir or set SPARK_GRAFT_SF_DIR"
                )
                return 1
            project = read_project(args.project_dir)
            if args.model not in project.models:
                print(f"unknown model {args.model!r}; known: {sorted(project.models)}")
                return 1
            from syncmaven_spark.runner import model_dataframe

            # model_dataframe routes datasource models through their source
            # (warehouse-escaped pushdown) and transpiles warehouse-dialect
            # text for Spark-executed ones — spark.sql on the raw compile
            # would mis-lex either
            df = model_dataframe(spark, project.models[args.model], None)
        df.explain("formatted")
        return 0

    if args.command == "preview":
        project = read_project(args.project_dir)
        if args.model not in project.models:
            print(f"unknown model {args.model!r}; known: {sorted(project.models)}")
            return 1
        from syncmaven_spark.runner import model_dataframe

        df = model_dataframe(spark, project.models[args.model], None)
        df.show(10, truncate=False)  # preview.ts:20 maxRows=10
        return 0

    # sync
    if args.model_sql:
        if not args.package:
            print("ad-hoc sync requires --package")
            return 1
        project = ad_hoc_project(
            args.model_sql,
            args.package,
            json.loads(args.credentials or "{}"),
            cursor=args.cursor,
            stream=args.stream,
        )
        store = create_store(args.state or "memory://")
    elif args.project_dir:
        project = read_project(args.project_dir)
        import os

        store = create_store(args.state or os.path.join(args.project_dir, ".state"))
    else:
        print("sync requires a project_dir or --model-sql")
        return 1

    selected = set(args.select.split(",")) if args.select else set(project.syncs)
    unknown = selected - set(project.syncs)
    if unknown:
        print(f"unknown syncs: {sorted(unknown)}; known: {sorted(project.syncs)}")
        return 1

    failures = 0
    for sync_id in sorted(selected):
        sync = project.syncs[sync_id]
        try:
            if args.distributed:
                from syncmaven_spark.runner import run_sync_distributed

                result = run_sync_distributed(
                    spark, sync, store,
                    full_refresh=args.full_refresh, num_chunks=args.chunks,
                )
            else:
                result = run_sync(
                    spark, sync, store, full_refresh=args.full_refresh
                )
            print(f"[{sync_id}] {result.stats.as_dict()} cursor={result.last_cursor}")
        except Exception as e:  # per-sync isolation (sync.ts:286-299)
            failures += 1
            print(f"[{sync_id}] FAILED: {e}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
