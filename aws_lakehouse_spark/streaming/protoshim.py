"""Make ``google.protobuf`` importable from a host-vendored copy.

``transformWithStateInPandas`` (arbitrary stateful processing v2)
talks to the JVM state server through protobuf messages
(``pyspark/sql/streaming/proto/StateMessage_pb2.py``, gencode 6.33),
so executing a v2 query needs the ``google.protobuf`` runtime in the
DRIVER (query planning builds messages) and in every Python WORKER
(the state-server client runs there). This container has no protobuf
wheel and no network for ``pip install`` — but the google-cloud-sdk
installation vendors a pure-Python protobuf **6.32** runtime at
``platform/google_appengine/google/protobuf``.

6.32 runtime under 6.33 gencode trips protobuf's runtime-version
POLICY check, not a real incompatibility: the wire format is stable
within a major version, and protobuf itself ships the
``TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK`` escape hatch for
exactly this skew. The shim therefore:

1. stages an ISOLATED directory containing only a ``google/protobuf``
   link into the vendored tree and prepends THAT to ``sys.path`` and
   ``PYTHONPATH`` — never the appengine dir itself, which vendors
   many other importables (``google.appengine``/``auth``/``oauth2``/
   ``pyglib`` plus top-level modules) that would shadow site-packages
   in the driver, every worker, and any later-spawned subprocess
   (r9 advice); the env var is set so a JVM launched AFTER the call
   hands the path to its Python workers;
2. sets the version-check flag in ``os.environ`` — this one must be
   process-wide: the DRIVER's own gencode import reads it, so scoping
   it to SparkContext.environment alone would shim workers but leave
   the driver's import failing;
3. when a live session is passed, mirrors both into
   ``SparkContext.environment`` — pyspark copies that dict into every
   PythonFunction's ``envVars``, which is how workers of an
   ALREADY-RUNNING local JVM receive them.

Best-effort by design: when no vendored runtime exists on the host
the function returns False and changes nothing, so callers keep
their documented skip. Round-trip of the actual StateMessage proto
(serialize + parse) was verified against the 6.32 runtime before
adopting the skew waiver.

No registry query runs a v2 stateful stream; the shim stays for the
``transformWithStateInPandas`` faces in ``streaming/stateful.py``
(``running_profile_per_key``), which callers shim first.
"""

from __future__ import annotations

import atexit
import importlib
import os
import shutil
import sys
import tempfile

# Known host locations of a vendored pure-Python protobuf runtime
# (checked in order; each must contain google/protobuf/__init__.py).
VENDORED_PROTOBUF_DIRS = (
    "/usr/lib/google-cloud-sdk/platform/google_appengine",
)

_FLAG = "TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK"

# vendored dir -> staged isolated dir (one staging per process)
_STAGED: dict[str, str] = {}


def _importable() -> bool:
    try:
        importlib.import_module("google.protobuf.descriptor")
        return True
    except ImportError:
        return False


def _stage_isolated(vendored: str) -> str | None:
    """Build a path entry whose ONLY importable content is
    ``google.protobuf``, linked (or copied) out of the vendored tree.
    The staged ``google/`` carries no ``__init__.py``, so it is a
    namespace package that MERGES with any ``google.*`` already in
    site-packages instead of replacing it.

    The stage is a plain ``tempfile.mkdtemp``, not
    ``session.scratch_dir``: it is a process-wide ``PYTHONPATH`` entry
    rather than a table, it may be staged before any session exists,
    and it removes itself at exit."""
    prior = _STAGED.get(vendored)
    if prior and os.path.isdir(os.path.join(prior, "google", "protobuf")):
        return prior
    src = os.path.join(vendored, "google", "protobuf")
    stage = tempfile.mkdtemp(prefix="protoshim_")
    gdir = os.path.join(stage, "google")
    os.makedirs(gdir)
    dst = os.path.join(gdir, "protobuf")
    try:
        os.symlink(src, dst)
    except OSError:
        try:  # symlink-less filesystems: fall back to a copy
            shutil.copytree(src, dst)
        except OSError:  # pragma: no cover - unreadable vendored tree
            shutil.rmtree(stage, ignore_errors=True)
            return None
    _STAGED[vendored] = stage
    # the staged dir is exported into PYTHONPATH, so without cleanup
    # every driver process leaks one protoshim_* tmpdir that outlives
    # it (r9 advice); workers import during the process lifetime, so
    # atexit removal is safe — stale inherited PYTHONPATH entries in
    # long-lived children are harmless to imports
    atexit.register(shutil.rmtree, stage, ignore_errors=True)
    return stage


def enable_protobuf_shim(spark=None) -> bool:
    """Best-effort: make ``google.protobuf`` importable here and in
    Spark Python workers. Returns True when the runtime is usable
    after the call (whether natively installed or shimmed)."""
    native = _importable()
    staged = None
    if not native:
        for cand in VENDORED_PROTOBUF_DIRS:
            if os.path.isfile(
                os.path.join(cand, "google", "protobuf", "__init__.py")
            ):
                staged = _stage_isolated(cand)
                break
        if staged is None:
            return False
        if staged not in sys.path:
            sys.path.insert(0, staged)
        if not _importable():  # pragma: no cover - corrupt vendored copy
            return False
    if staged is not None:
        prior = os.environ.get("PYTHONPATH", "")
        if staged not in prior.split(os.pathsep):
            os.environ["PYTHONPATH"] = (
                staged + (os.pathsep + prior if prior else "")
            )
        # the vendored runtime may be OLDER-minor than pyspark's
        # gencode; waive the policy check (wire-compatible within a
        # major — see module docstring). Process-wide by necessity:
        # the driver's own gencode import reads os.environ.
        os.environ[_FLAG] = "true"
    if spark is not None:
        env = spark.sparkContext.environment
        if staged is not None:
            env[_FLAG] = "true"
            prior = env.get("PYTHONPATH", "")
            if staged not in prior.split(os.pathsep):
                env["PYTHONPATH"] = (
                    staged + (os.pathsep + prior if prior else "")
                )
    return True
