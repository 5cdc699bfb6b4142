"""Structural pin for the concurrent-session shared-path race class.

r9 hit the same race twice: the SequenceFile and XML roundtrip entries
wrote to FIXED paths under spark-warehouse, so two concurrent sessions
(e.g. two check.py axes running in parallel) could clear each other's
files mid-lazy-read.  Both were fixed by scoping the path with the
Spark applicationId, but nothing STOPPED the next write-then-read
entry from reintroducing a fixed shared path — this module does
(VERDICT r9 "Next round" #4).

Two layers:

* a STATIC sweep over every ``hive_release_spark/queries`` module:
  any function that writes to the filesystem must build its path via
  ``catalog.app_scoped_dir`` (the one construction that embeds the
  applicationId and carries the cleanup lifecycle), and no module may
  hand-build a ``spark-warehouse`` path at all;
* a FUNCTIONAL check of the helper itself: app-id embedding, atexit
  registration, and the dead-application sibling sweep that must
  never touch a live (young) concurrent session's directory.
"""

from __future__ import annotations

import ast
import os
import time

import hive_release_spark.queries as Q

QUERIES_DIR = os.path.dirname(Q.__file__)

# Call names that put bytes on the filesystem from a registry entry.
# (Reads are fine — the race is writer-vs-reader on a shared path.)
WRITE_CALLS = {
    "save",
    "saveAsTable",
    "saveAsSequenceFile",
    "insertInto",
    "write_sequencefile",
}

# The only sanctioned path constructor for entry-owned scratch dirs.
SANCTIONED = "app_scoped_dir"


def _module_sources():
    for f in sorted(os.listdir(QUERIES_DIR)):
        if f.endswith(".py"):
            path = os.path.join(QUERIES_DIR, f)
            with open(path) as fh:
                yield f, fh.read()


def _call_name(node: ast.Call) -> str:
    fn = node.func
    if isinstance(fn, ast.Attribute):
        return fn.attr
    if isinstance(fn, ast.Name):
        return fn.id
    return ""


def test_no_hand_built_warehouse_path_in_query_modules():
    """The literal 'spark-warehouse' may appear in queries/ only inside
    the sanctioned helper — a hand-joined warehouse path is exactly the
    fixed shared path that raced in r9."""
    for fname, src in _module_sources():
        tree = ast.parse(src)
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and "spark-warehouse" in node.value
            ):
                func = _enclosing_function(tree, node)
                assert func is not None and func.name == SANCTIONED, (
                    f"{fname}:{node.lineno} builds a spark-warehouse "
                    f"path outside {SANCTIONED} — fixed shared paths "
                    "race across concurrent sessions (r9, twice); "
                    "route it through the helper"
                )


def _enclosing_function(tree, target):
    found = None
    for fn in ast.walk(tree):
        if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            end = max(
                (n.lineno for n in ast.walk(fn) if hasattr(n, "lineno")),
                default=fn.lineno,
            )
            if fn.lineno <= target.lineno <= end:
                if found is None or fn.lineno > found.lineno:
                    found = fn
    return found


def test_every_writing_entry_uses_the_scoped_helper():
    """Any queries/ function that performs a filesystem write must call
    app_scoped_dir somewhere in its body — this is what fails when the
    next roundtrip entry is added with a fixed path."""
    offenders = []
    for fname, src in _module_sources():
        tree = ast.parse(src)
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            calls = {
                _call_name(n)
                for n in ast.walk(fn)
                if isinstance(n, ast.Call)
            }
            if calls & WRITE_CALLS and SANCTIONED not in calls:
                offenders.append(f"{fname}::{fn.name} ({calls & WRITE_CALLS})")
    assert not offenders, (
        "registry entry functions write to the filesystem without an "
        f"app-scoped directory: {offenders} — a fixed shared path "
        "races across concurrent sessions (the r9 class)"
    )


def test_scoped_dir_embeds_application_id(spark):
    from hive_release_spark.catalog import _SCOPED_DIRS, app_scoped_dir

    p = app_scoped_dir(spark, "race_pin", "/root/testdata/sf0.001")
    app_id = spark.sparkContext.applicationId
    assert app_id in os.path.basename(p)
    assert p.startswith("spark-warehouse" + os.sep)
    # registered for end-of-process cleanup
    assert p in _SCOPED_DIRS


def test_stale_sibling_sweep_spares_live_sessions(spark, tmp_path):
    """The dead-application debris sweep removes only siblings older
    than the TTL; a young sibling (a LIVE concurrent session's dir)
    must survive — deleting it would reintroduce the very race the
    scoping fixed."""
    from hive_release_spark import catalog

    base = "spark-warehouse"
    os.makedirs(base, exist_ok=True)
    dead = os.path.join(base, "race_pin_sweep_sf0.001_app-dead-123")
    live = os.path.join(base, "race_pin_sweep_sf0.001_app-live-456")
    for d in (dead, live):
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "part-00000"), "w") as fh:
            fh.write("x")
    old = time.time() - catalog._STALE_SCRATCH_SECONDS - 60
    os.utime(dead, (old, old))

    try:
        catalog.app_scoped_dir(
            spark, "race_pin_sweep", "/root/testdata/sf0.001"
        )
        assert not os.path.exists(dead), "stale dead-app dir not swept"
        assert os.path.exists(live), (
            "young sibling swept — that's a LIVE concurrent session's "
            "directory; the TTL guard regressed"
        )
    finally:
        import shutil

        for d in (dead, live):
            shutil.rmtree(d, ignore_errors=True)


def test_stale_sibling_sweep_is_family_exact(spark):
    """ADVICE r10-3: a prefix that is itself a prefix of another
    family's name ("race_pin" vs "race_pin_sweep") must NOT sweep that
    family's directories — the sweep matches the full structured
    <prefix>_<tag>_<appId> name, not a raw startswith. An
    underscore-bearing tag (the /tmp/sf_nan axis dirs) also fails the
    one-segment parse and is skipped: the sweep errs toward leaving
    debris, never toward deleting another family's data."""
    from hive_release_spark import catalog

    base = "spark-warehouse"
    os.makedirs(base, exist_ok=True)
    other_family = os.path.join(base, "race_pin_sweep_sf0.001_app-x-1")
    odd_tag = os.path.join(base, "race_pin_sf_nan_app-y-2")
    for d in (other_family, odd_tag):
        os.makedirs(d, exist_ok=True)
    old = time.time() - catalog._STALE_SCRATCH_SECONDS - 60
    for d in (other_family, odd_tag):
        os.utime(d, (old, old))
    try:
        catalog.app_scoped_dir(
            spark, "race_pin", "/root/testdata/sf0.001"
        )
        assert os.path.exists(other_family), (
            "the race_pin sweep took race_pin_sweep's directory — the "
            "family-exact name match regressed to a raw prefix match"
        )
        assert os.path.exists(odd_tag), (
            "an underscore-bearing tag was swept — the conservative "
            "one-segment parse regressed"
        )
        # ... and the helper no longer GENERATES such names: axis
        # tags are sanitized so their own debris stays sweepable
        p = catalog.app_scoped_dir(spark, "race_pin", "/tmp/sf_nan")
        assert "sf-nan" in os.path.basename(p) and "sf_nan" not in os.path.basename(p)
    finally:
        import shutil

        for d in (other_family, odd_tag):
            shutil.rmtree(d, ignore_errors=True)
