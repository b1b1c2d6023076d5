"""Compile-parity gate over the reference's shipped example configs
(reference config/*.yaml: one auto-generated, fully-defaulted config
per connector family).  Every config must land in {ok, gated,
incomplete} — `error` means a config-surface gap on our side (see
tools/config_sweep.py for the category definitions)."""

from __future__ import annotations

import glob
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Soak/parity tier: excluded from the default fast run the driver's
# verify budget can finish (pytest.ini); run with -m slow.
pytestmark = __import__('pytest').mark.slow

CONFIG_DIR = "/root/reference/config"


@pytest.mark.skipif(not os.path.isdir(CONFIG_DIR),
                    reason="reference configs not present")
def test_every_reference_config_compiles_or_gates(spark):
    import sys
    sys.path.insert(0, REPO)
    from tools.config_sweep import classify
    try:
        os.unlink("/tmp/benthos.sock")
    except OSError:
        pass
    bad = []
    counts = {"ok": 0, "gated": 0, "incomplete": 0, "error": 0}
    for path in sorted(glob.glob(f"{CONFIG_DIR}/*.yaml")):
        kind, msg = classify(path, spark)
        counts[kind] += 1
        if kind == "error":
            bad.append((os.path.basename(path), msg))
    assert not bad, f"config-surface gaps: {bad}"
    # the understood-config floor: moving a config from ok/gated into
    # incomplete (or losing connectors) should fail loudly
    assert counts["ok"] >= 24 and counts["gated"] >= 20, counts
