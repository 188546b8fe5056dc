"""CLI parity tier (R22-R27): run/deps/validate/version subcommands,
config loading, module:variable selection (the R25 fix)."""

import json
import subprocess
import sys

import pytest

REPO = "/root/repo"


def run_cli(*args, timeout=240):
    return subprocess.run(
        [sys.executable, "-m", "interlinked_spark", *args],
        capture_output=True,
        text=True,
        cwd=REPO,
        timeout=timeout,
    )


def test_version():
    out = run_cli("examples.basic", "version")
    assert out.returncode == 0
    assert out.stdout.strip() == "0.1.0"


def test_run_default_workflow():
    out = run_cli("examples.basic", "run", "many_echo", "-s")
    assert out.returncode == 0
    assert "test test" in out.stdout


def test_run_with_route_param():
    out = run_cli("examples.basic", "run", "echo.hello", "-s")
    assert "hello" in out.stdout


def test_deps_tree():
    out = run_cli("examples.basic", "deps")
    assert out.returncode == 0
    assert "echo.{name}" in out.stdout and "many_echo" in out.stdout


def test_validate_ok():
    out = run_cli("examples.basic", "validate")
    assert out.stdout.strip().endswith("ok")


def test_named_workflow_selection(tmp_path):
    # module:variable form — broken in the reference (R25), fixed here
    out = run_cli("examples.analytics:wkf", "validate")
    assert out.stdout.strip().endswith("ok"), out.stderr[-500:]


def test_bad_config_extension(tmp_path):
    bad = tmp_path / "conf.yaml"
    bad.write_text("x: 1")
    out = run_cli("examples.basic", "run", "echo", "-c", str(bad))
    assert out.returncode != 0


def test_json_config_injection(tmp_path):
    conf = tmp_path / "conf.json"
    conf.write_text(json.dumps({"many_echo": {"repeat": 4}}))
    out = run_cli("examples.basic", "run", "many_echo", "-s", "-c", str(conf))
    assert "test test test test" in out.stdout


def test_multi_target_with_config(tmp_path):
    # ADVICE round-1 fix: per-target cloning re-registered '<name>_clone'
    # and crashed on the second target; the clone now happens once.
    conf = tmp_path / "conf.json"
    conf.write_text(json.dumps({"many_echo": {"repeat": 3}}))
    out = run_cli("examples.basic", "run", "many_echo", "echo.hi", "-s", "-c", str(conf))
    assert out.returncode == 0, out.stderr[-500:]
    assert "test test test" in out.stdout and "hi" in out.stdout


# Runs each script as ``__main__`` in one interpreter and prints a
# per-script verdict line; a failure does not stop the later scripts.
_SCRIPTS_RUNNER = """
import runpy, sys, traceback
for script in sys.argv[1:]:
    try:
        runpy.run_path(script, run_name="__main__")
    except BaseException:
        traceback.print_exc()
        print("FAILED", script, flush=True)
    else:
        print("PASSED", script, flush=True)
"""


def test_example_scripts_run():
    # Reference example parity: caching (lru_cache under provide) and
    # multi-workflow (same resource name, isolated registries).  All
    # four scripts share one process, so the two Spark pipelines share
    # one JVM instead of launching one each; their workflow names are
    # distinct and ``get_spark`` reuses the running session.
    import os

    scripts = [
        "examples/caching.py",
        "examples/multi_workflow.py",
        "examples/llm_pipeline.py",
        "examples/cdc_pipeline.py",
    ]
    out = subprocess.run(
        [sys.executable, "-c", _SCRIPTS_RUNNER, *scripts],
        capture_output=True,
        text=True,
        cwd=REPO,
        env={**os.environ, "PYTHONPATH": REPO},
        # Hang guard only, not a performance bound: the scripts run in
        # ~20-60s each alone, but inside the full suite the fresh
        # local[N] JVM competes with the suite session's executors and
        # one script has been observed queued past 240s (r16:
        # llm_pipeline stuck at Stage 0 (0+1)/1, then green in
        # isolation at 155s for all four).
        timeout=960,
    )
    for script in scripts:
        assert f"PASSED {script}" in out.stdout, (script, out.stderr[-2000:])
    assert out.returncode == 0, out.stderr[-2000:]


def test_advise_skips_non_dataframe():
    out = run_cli("examples.basic", "advise", "echo.hello")
    assert "not a DataFrame" in out.stdout
    assert out.returncode == 0


# Runs each ``advise`` invocation (one JSON argv per command-line
# argument) through ``cli.main`` in one interpreter, so the example
# workflows share one JVM.  Each invocation's output is printed between
# delimiter lines, the closing one carrying its exit code.  Workflows an
# invocation registered are forgotten afterwards: the CLI re-executes
# the module, and a named workflow may be registered only once.
_ADVISE_RUNNER = """
import json, sys, traceback
from interlinked_spark.cli import main
from interlinked_spark.workflow import Workflow
for raw in sys.argv[1:]:
    argv = json.loads(raw)
    before = set(Workflow._registry)
    print("@@@ BEGIN", raw, flush=True)
    try:
        main(argv)
        code = 0
    except SystemExit as exc:
        code = exc.code if isinstance(exc.code, int) else (0 if exc.code is None else 1)
    except Exception:
        traceback.print_exc()
        code = 1
    for name in set(Workflow._registry) - before:
        Workflow.forget(name)
    print("@@@ END", code, flush=True)
"""

_ADVISE_INVOCATIONS = {
    # a plain scan is clean; the quality filter (all-derived predicate)
    # legitimately draws the unpushed-filter advisory
    "clean_and_warn": ["examples.llm_pipeline:wkf", "advise", "docs.raw", "docs.clean"],
    # every DataFrame resource the user-facing examples expose
    "analytics": ["examples.analytics:wkf", "advise", "revenue.a", "table.lineitem"],
    "cdc_pipeline": ["examples.cdc_pipeline:wkf", "advise", "docs.new_matches"],
    "grouped_models": ["examples.grouped_models:wkf", "advise", "nation_models"],
    "llm_pipeline": [
        "examples.llm_pipeline:wkf", "advise",
        "docs.canonical", "docs.decontaminated", "mix.resampled",
    ],
}


@pytest.fixture(scope="module")
def advise_runs():
    """name -> (exit code, stdout) for every ``_ADVISE_INVOCATIONS``
    entry, from one subprocess."""
    import os

    out = subprocess.run(
        [sys.executable, "-c", _ADVISE_RUNNER,
         *(json.dumps(argv) for argv in _ADVISE_INVOCATIONS.values())],
        capture_output=True,
        text=True,
        cwd=REPO,
        env={**os.environ, "PYTHONPATH": REPO},
        # Hang guard only, not a performance bound (see
        # test_example_scripts_run).
        timeout=960,
    )
    runs = {}
    blocks = out.stdout.split("@@@ BEGIN ")[1:]
    for name, block in zip(_ADVISE_INVOCATIONS, blocks):
        body, ended, tail = block.partition("@@@ END ")
        if ended:
            runs[name] = (int(tail.split()[0]), body.partition("\n")[2])
    assert list(runs) == list(_ADVISE_INVOCATIONS), (out.stdout, out.stderr[-2000:])
    return runs


def test_advise_reports_clean_and_warn(advise_runs):
    # warn severity does NOT fail the exit status (only high does).
    code, stdout = advise_runs["clean_and_warn"]
    assert "docs.raw: no findings" in stdout
    assert "docs.clean: [warn] unpushed-filter" in stdout
    assert code == 0


def test_advise_examples_surface_no_high_findings(advise_runs):
    """Advisor-as-CI over the user-facing example workflows (r9 verdict
    item 6): every DataFrame resource the examples expose passes the
    plan advisor with ZERO high-severity findings — `advise` exits 1 on
    high, so these invocations double as the CI gate a user would wire
    up (README: Plan advisor)."""
    for name in ("analytics", "cdc_pipeline", "grouped_models", "llm_pipeline"):
        code, stdout = advise_runs[name]
        assert code == 0, (name, stdout)
        assert "[high]" not in stdout, (name, stdout)


def test_catalog_cli_runs_query_and_validates_jvm_free():
    """The CLI-facing catalog twin: every q.<name> runnable from the
    command line; validate/deps never build a SparkSession (lazy
    proxy)."""
    out = run_cli(
        "interlinked_spark.catalog_cli:wkf", "run", "q.region_revenue", "-s"
    )
    assert out.returncode == 0, out.stderr[-500:]
    assert "revenue" in out.stdout

    out = run_cli("interlinked_spark.catalog_cli:wkf", "validate")
    assert out.returncode == 0
    assert "ok" in out.stdout
