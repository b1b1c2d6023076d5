"""Compile-parity sweep over the reference's shipped example configs
(reference `config/*.yaml` — one auto-generated, fully-defaulted config
per connector family).

For each config we attempt `build_stream` (plan compile, no execution)
and classify the outcome:

  ok         — the logical plan compiled
  gated      — compile reached a documented client/connector gate (the
               config is understood; the connector needs an injected
               client, jar, or live endpoint this container lacks)
  incomplete — the config is understood but its auto-generated defaults
               are unrunnable (empty inputs/paths/command) and we
               rejected it with a clean, actionable ConfigError — the
               reference cannot run these defaults either
  error      — anything else (a config-surface gap on our side)

Usage: python tools/config_sweep.py [name.yaml ...]
"""

from __future__ import annotations

import glob
import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CONFIG_DIR = "/root/reference/config"

# markers of "understood but needs a live client/endpoint/credential"
GATE_MARKERS = (
    "injectable", "client factory", "client_resource", "not installed",
    "no module named", "connection refused", "nodename", "credentials",
    "requires a live", "paramiko", "kafka-python", "boto3", "pymongo",
    "gated", "resource not registered", "unable to connect",
    "name or service not known", "failed to resolve",
)


def classify(path: str, spark) -> tuple[str, str]:
    from benthos_spark.stream import ConfigError, build_stream, load_config

    try:
        conf = load_config(path)
    except Exception as e:  # noqa: BLE001
        return "error", f"yaml: {e}"
    incomplete_markers = (
        "needs", "at least one", "not registered", "no registered",
        "no spark socket source", "has no registered")
    try:
        build_stream(spark, conf)
        return "ok", ""
    except ConfigError as e:
        msg = str(e)
        low = msg.lower()
        if any(m in low for m in GATE_MARKERS):
            return "gated", msg[:120]
        if any(m in low for m in incomplete_markers):
            return "incomplete", msg[:120]
        return "error", msg[:200]
    except Exception as e:  # noqa: BLE001
        low = (str(e) or type(e).__name__).lower()
        if any(m in low for m in GATE_MARKERS):
            return "gated", str(e)[:120]
        return "error", f"{type(e).__name__}: {str(e)[:200]}\n"\
                        f"{traceback.format_exc(limit=4)}"


def main() -> int:
    from benthos_spark.session import get_spark
    spark = get_spark("config-sweep")
    import os as _os
    for stale in ("/tmp/benthos.sock",):
        try:
            _os.unlink(stale)
        except OSError:
            pass
    spark.sparkContext.setLogLevel("OFF")
    only = set(sys.argv[1:])
    counts = {"ok": 0, "gated": 0, "incomplete": 0, "error": 0}
    for path in sorted(glob.glob(f"{CONFIG_DIR}/*.yaml")):
        name = os.path.basename(path)
        if only and name not in only:
            continue
        kind, msg = classify(path, spark)
        counts[kind] += 1
        print(f"{kind:6} {name}" + (f"  [{msg}]" if msg else ""))
    print(f"\n{counts}")
    spark.stop()
    return 1 if counts["error"] else 0


if __name__ == "__main__":
    raise SystemExit(main())
