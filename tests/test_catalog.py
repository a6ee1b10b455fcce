"""Catalog-owned invariants that need no Spark session."""

from __future__ import annotations

import pathlib

import gcp_de_data_pipeline_cc_spark

_PKG = pathlib.Path(gcp_de_data_pipeline_cc_spark.__file__).parent


def test_session_caching_lives_only_in_catalog():
    # catalog.shared is the one session-shared-build mechanism: keying
    # on the Spark application or on table fingerprints anywhere else
    # means a second, hand-rolled cache has grown back
    offenders = [
        f"{path.relative_to(_PKG)}: {word}"
        for path in sorted(_PKG.rglob("*"))
        if path.is_file()
        and "__pycache__" not in path.parts
        and path.name != "catalog.py"
        for word in ("applicationId", "table_fingerprint")
        if word in path.read_text(errors="ignore")
    ]
    assert offenders == []
