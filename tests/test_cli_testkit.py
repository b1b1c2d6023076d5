"""CLI + YAML golden-test runner tests."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from benthos_spark.testkit import run_case, run_test_file

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Soak/parity tier: excluded from the default fast run the driver's
# verify budget can finish (pytest.ini); run with -m slow.
pytestmark = __import__('pytest').mark.slow

GOLDEN = os.path.join(os.path.dirname(__file__), "golden",
                      "mapping_cases.yaml")
PARITY = os.path.join(os.path.dirname(__file__), "golden",
                      "reference_parity_cases.yaml")


def test_golden_file_all_pass(spark):
    failures = run_test_file(spark, GOLDEN)
    assert failures == []


def test_reference_parity_golden_all_pass(spark):
    failures = run_test_file(spark, PARITY)
    assert failures == []


def test_run_case_reports_mismatch(spark):
    res = run_case(spark, {
        "name": "expected failure",
        "target_mapping": "root.x = this.n + 1",
        "content_schema": "n INT",
        "input_batch": [{"json_content": {"n": 1}}],
        "output_batches": [[{"json_contains": {"x": 999}}]],
    })
    assert not res.ok
    assert "json_contains[x]" in res.message


def test_run_case_counts_parts(spark):
    res = run_case(spark, {
        "name": "count mismatch",
        "target_processors": [{"filter": "this.content == \"keep\""}],
        "input_batch": [{"content": "keep"}, {"content": "drop"}],
        "output_batches": [[{"content_equals": "keep"},
                            {"content_equals": "drop"}]],
    })
    assert not res.ok and "expected 2" in res.message


def _run_cli(args, stdin=""):
    env = dict(os.environ, PYTHONPATH=REPO,
               SPARK_GRAFT_CPUS="4")
    return subprocess.run(
        [sys.executable, "-m", "benthos_spark", *args],
        input=stdin, capture_output=True, text=True, cwd=REPO,
        env=env, timeout=300)


def test_cli_lint_ok_and_fail(tmp_path):
    good = tmp_path / "good.yaml"
    good.write_text("""
input:
  generate: {count: 3, mapping: "root.id = this.id"}
""")
    r = _run_cli(["lint", "-c", str(good)])
    assert r.returncode == 0 and "config OK" in r.stdout

    bad = tmp_path / "bad.yaml"
    bad.write_text("""
input:
  generate: {count: 3, mapping: "root.id = this.id ++"}
""")
    r = _run_cli(["lint", "-c", str(bad)])
    assert r.returncode == 1 and "lint:" in r.stderr


def test_cli_blobl_repl():
    r = _run_cli(["blobl", "root.out = this.a * 2"],
                 stdin='{"a": 21}\n')
    lines = [ln for ln in r.stdout.splitlines() if ln.startswith("{")]
    assert json.loads(lines[0]) == {"out": 42}


def test_cli_test_runner():
    r = _run_cli(["test", GOLDEN])
    assert r.returncode == 0
    assert r.stdout.count("PASS") == 4


def test_cli_echo_normalises_with_env_and_set(tmp_path, monkeypatch):
    conf = tmp_path / "c.yaml"
    conf.write_text("""
input:
  file:
    paths: ["${DATA_DIR:/tmp/in}/x.jsonl"]
pipeline:
  processors:
    - bloblang: 'root.y = "${{NOT_AN_ENV}}"'
output:
  drop: {}
""")
    env = dict(os.environ, DATA_DIR="/srv/data")
    r = subprocess.run(
        [sys.executable, "-m", "benthos_spark", "echo", "-c", str(conf),
         "--set", "output.drop=null", "--set", "http.address=0.0.0.0:4195"],
        capture_output=True, text=True, env=env)
    assert r.returncode == 0, r.stderr
    import yaml
    out = yaml.safe_load(r.stdout)
    # env var resolved, default untouched when var set
    assert out["input"]["file"]["paths"] == ["/srv/data/x.jsonl"]
    # ${{FOO}} escapes to a literal ${FOO} (env_vars.go:49)
    assert out["pipeline"]["processors"][0]["bloblang"] == (
        'root.y = "${NOT_AN_ENV}"')
    assert out["output"]["drop"] is None
    assert out["http"]["address"] == "0.0.0.0:4195"


def test_replace_env_variables_defaults_and_bloblang_interps():
    from benthos_spark.stream import replace_env_variables as rep
    assert rep("${__BS_UNSET_VAR__:fallback}") == "fallback"
    assert rep("${__BS_UNSET_VAR__}") == ""
    # Bloblang interpolation is untouched (char after ${ not alnum)
    assert rep('${! meta("key") }') == '${! meta("key") }'
