"""Round-20 fixes (VERDICT r19 / ADVICE r19).

1. tools/window_rotation.py --check is no longer phase-dependent
   (VERDICT r19 "what's wrong" #1): it accepts BOTH the pre-rotation
   state (_CHECK_FIRST == next prescribed window) and the
   window-already-ran state (_CHECK_FIRST == the newest CORRECTNESS
   file's key set), while a genuinely wrong window still fails. The
   sandbox below fabricates a minimal repo (fake catalog, fake
   __spark_entry__, three CORRECTNESS files) so each phase is pinned
   independently of the live repo's rotation phase.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FLAGSHIP = "pipeline_clean_corpus"


def _make_sandbox(tmp_path, check_first):
    """Fabricate a repo the rotation tool can audit: 147 live keys,
    three CORRECTNESS files splitting 48/49/50 (the steady state),
    and a stub __spark_entry__ carrying the given _CHECK_FIRST."""
    keys = [FLAGSHIP] + [f"k{i:03d}" for i in range(146)]
    cohort_a = [k for k in keys if k != FLAGSHIP][:48]          # r1
    cohort_b = [k for k in keys if k != FLAGSHIP][48:97]        # r2
    cohort_c = [FLAGSHIP] + [k for k in keys if k != FLAGSHIP][97:]  # r3, 50

    tools = tmp_path / "tools"
    tools.mkdir()
    shutil.copy(os.path.join(REPO, "tools", "window_rotation.py"),
                tools / "window_rotation.py")

    pkg = tmp_path / "universal_data_connector_spark" / "plans"
    pkg.mkdir(parents=True)
    (tmp_path / "universal_data_connector_spark" / "__init__.py").write_text("")
    (pkg / "__init__.py").write_text("")
    (pkg / "catalog.py").write_text(
        f"QUERIES = {{k: None for k in {keys!r}}}\n")

    rec = {"rows_match": True, "schema_match": True, "hash_match": True}
    for rnd, cohort in ((1, cohort_a), (2, cohort_b), (3, cohort_c)):
        (tmp_path / f"CORRECTNESS_r{rnd}.json").write_text(
            json.dumps({k: rec for k in cohort}))

    (tmp_path / "__spark_entry__.py").write_text(
        f"_CHECK_FIRST = {check_first!r}\n")
    return cohort_a, cohort_b, cohort_c


def _run_check(tmp_path):
    return subprocess.run(
        [sys.executable, str(tmp_path / "tools" / "window_rotation.py"),
         "--check"],
        capture_output=True, text=True, cwd=str(tmp_path))


def test_rotation_check_green_pre_rotation(tmp_path):
    """Phase A: _CHECK_FIRST is the NEXT prescribed window (oldest
    cohort + flagship + one middle-cohort spare) -> exit 0."""
    keys = [FLAGSHIP] + [f"k{i:03d}" for i in range(146)]
    a = [k for k in keys if k != FLAGSHIP][:48]
    b = [k for k in keys if k != FLAGSHIP][48:97]
    window = a + [FLAGSHIP, b[0]]
    _make_sandbox(tmp_path, window)
    proc = _run_check(tmp_path)
    assert proc.returncode == 0, proc.stdout + proc.stderr
    assert "window phase: NEXT" in proc.stdout


def test_rotation_check_green_after_driver_lands_artifact(tmp_path):
    """Phase B (the VERDICT r19 red state): the driver has landed the
    CORRECTNESS artifact for the CURRENT window, so _CHECK_FIRST
    equals the newest file's key set while the derived 'next window'
    has already advanced -> must still exit 0."""
    keys = [FLAGSHIP] + [f"k{i:03d}" for i in range(146)]
    c = [FLAGSHIP] + [k for k in keys if k != FLAGSHIP][97:]
    window = list(reversed(c))  # order within the window is free
    _make_sandbox(tmp_path, window)
    proc = _run_check(tmp_path)
    assert proc.returncode == 0, proc.stdout + proc.stderr
    assert "window phase: ALREADY-RAN" in proc.stdout


@pytest.mark.parametrize("mutation", ["drop_cohort_key", "stale_mix"])
def test_rotation_check_red_on_wrong_window(tmp_path, mutation):
    """A genuinely wrong window matches NEITHER phase and fails:
    - drop_cohort_key: one oldest-cohort key replaced by a second
      middle spare (cohort no longer fully covered);
    - stale_mix: half the window drawn from the newest cohort without
      equalling it (neither next-window nor already-ran)."""
    keys = [FLAGSHIP] + [f"k{i:03d}" for i in range(146)]
    a = [k for k in keys if k != FLAGSHIP][:48]
    b = [k for k in keys if k != FLAGSHIP][48:97]
    c50 = [FLAGSHIP] + [k for k in keys if k != FLAGSHIP][97:]
    if mutation == "drop_cohort_key":
        window = a[:-1] + [FLAGSHIP, b[0], b[1]]
    else:
        window = a[:24] + c50[:25] + [b[0]]
        window = list(dict.fromkeys(window + [FLAGSHIP]))[:50]
        while len(window) < 50:
            window.append(b[len(window) - 49])
    _make_sandbox(tmp_path, window)
    proc = _run_check(tmp_path)
    assert proc.returncode == 1, proc.stdout + proc.stderr
    assert "INVARIANT VIOLATED" in proc.stdout


# ---------------------------------------------------------------------------
# ADVICE r19: scratch sweep and flat props
# ---------------------------------------------------------------------------

def test_scratch_dir_sweep_is_pid_aware(tmp_path, monkeypatch):
    """ADVICE r19 (low): the scratch sweep must never remove a
    sibling whose creator process is alive (the old 12 h top-level
    mtime rule could — POSIX does not refresh a dir's mtime for
    writes in nested subdirs), must collect a dead creator's corpse
    immediately, and must keep aging out legacy pid-less dirs."""
    import os
    import subprocess
    import sys as _sys
    import tempfile
    import time

    from universal_data_connector_spark.plans.catalog import _scratch_dir

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    prefix = "udc_sweeptest_"
    old = time.time() - 13 * 3600

    live = tmp_path / f"{prefix}p{os.getpid()}_live"
    live.mkdir()
    os.utime(live, (old, old))  # ancient mtime, but creator alive

    # spawn via Popen to learn the pid, then wait so it is provably
    # dead (a just-reaped pid is the most realistic corpse fixture)
    p = subprocess.Popen([_sys.executable, "-c", "pass"])
    p.wait()
    dead = tmp_path / f"{prefix}p{p.pid}_dead"
    dead.mkdir()  # fresh mtime, but creator dead

    legacy_old = tmp_path / f"{prefix}legacyold"
    legacy_old.mkdir()
    os.utime(legacy_old, (old, old))
    legacy_new = tmp_path / f"{prefix}legacynew"
    legacy_new.mkdir()

    out = _scratch_dir(prefix)
    assert out.startswith(str(tmp_path))
    assert f"p{os.getpid()}_" in os.path.basename(out)
    assert live.is_dir(), "live-creator sibling must never be swept"
    assert not dead.exists(), "dead-creator corpse should sweep now"
    assert not legacy_old.exists(), "legacy dir past 12 h sweeps"
    assert legacy_new.is_dir(), "young legacy dir is kept"


def test_flat_transformation_props_lifted_not_silently_dropped():
    """A transformation (or source/sink) written flat —
    ``{type: filter, condition: X}`` instead of nesting under
    ``properties:`` — must parse as the intended filter, not as a
    no-op filter with an empty condition that keeps every row
    (caught live in the r20 verify pass). Nested properties win on
    collision."""
    from universal_data_connector_spark.config import parse_config

    cfg = parse_config({"pipelines": [{
        "name": "flat",
        "source": {"type": "file", "path": "/in", "pattern": "*.txt"},
        "transformations": [
            {"type": "filter", "condition": "IMPORTANT"},
            {"type": "filter", "condition": "flat-loses",
             "properties": {"condition": "nested-wins"}},
        ],
        "sink": {"type": "file", "properties": {"path": "/out"}},
    }]}).pipelines[0]
    assert cfg.source.properties == {"path": "/in", "pattern": "*.txt"}
    assert cfg.transformations[0].properties == {"condition": "IMPORTANT"}
    assert cfg.transformations[1].properties == {"condition": "nested-wins"}
    assert cfg.sink.properties == {"path": "/out"}
