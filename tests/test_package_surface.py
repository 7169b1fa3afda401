"""The package surface: every module under ``osm_spark`` imports, the
multimodal media codecs are gone, and the two pieces the spatial path
and the north rule use live outside ``text/``. No program file still
names a deleted module (a lazy import inside a query body only fails
when that query runs, so the source text is checked, not just the
import)."""

import importlib
import pkgutil
from pathlib import Path

import pytest

import osm_spark

REPO = Path(__file__).resolve().parents[1]

DELETED = [
    f"osm_spark.text.{m}"
    for m in ("apng", "gif", "jpeg", "multimodal", "png", "wav", "components", "html")
]


def test_every_module_imports():
    names = [
        m.name for m in pkgutil.walk_packages(osm_spark.__path__, "osm_spark.")
    ]
    for name in names:
        importlib.import_module(name)
    assert {"osm_spark.spatial.components", "osm_spark.sources.html"} <= set(names)


def test_spatial_path_does_not_import_text():
    for name in ("osm_spark.spatial.hotspots", "osm_spark.sources.html"):
        src = Path(importlib.import_module(name).__file__).read_text()
        assert "osm_spark.text" not in src, name


@pytest.mark.parametrize("name", DELETED)
def test_deleted_module_is_gone_and_unnamed(name):
    with pytest.raises(ModuleNotFoundError):
        importlib.import_module(name)
    files = [
        *(REPO / "osm_spark").rglob("*.py"),
        *(REPO / "tools").rglob("*.py"),
        REPO / "__spark_entry__.py",
    ]
    named = [str(p.relative_to(REPO)) for p in files if name in p.read_text()]
    assert named == []
