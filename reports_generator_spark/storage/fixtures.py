"""Fixture roots and the build-once marker."""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile

_READY = "_READY"


def fixture_base(spark, sf_dir: str, tag: str) -> str:
    """tmp-dir root for a per-(fixture, sf, session) lake fixture:
    ``rg_{tag}_{md5(sf:tag:appid)[:10]}`` under tempfile.gettempdir().
    The application id in the hash gives concurrent sessions on the
    same sf_dir isolated dirs, so one session's rebuild never removes
    files another session's lazy plan still reads."""
    h = hashlib.md5(
        (os.path.abspath(sf_dir) + f":{tag}:" + spark.sparkContext.applicationId)
        .encode()
    ).hexdigest()[:10]
    return os.path.join(tempfile.gettempdir(), f"rg_{tag}_{h}")


def needs_build(base: str) -> bool:
    """True unless ``base`` holds a finished build. A dir without the
    marker is a crash mid-build (or was never built): it is wiped here,
    so the caller always builds from an empty slate — probing an
    intermediate file instead would cache a half-built fixture forever."""
    if os.path.exists(os.path.join(base, _READY)):
        return False
    shutil.rmtree(base, ignore_errors=True)
    return True


def mark_built(base: str) -> None:
    """Write the build-once marker — LAST, after every file the
    fixture holds."""
    open(os.path.join(base, _READY), "w").close()
