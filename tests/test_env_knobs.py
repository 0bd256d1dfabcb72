"""The package reads exactly the deployment settings below from the
environment. An env knob added only to A/B two code paths fails here
instead of outliving its measurement; a new deployment setting is added
to the set on purpose. Stdlib only: no Spark session needed."""

from __future__ import annotations

import pathlib
import re

PACKAGE = (
    pathlib.Path(__file__).resolve().parent.parent
    / "youtube_api_batch_process_with_analytics_spark"
)

DEPLOYMENT_SETTINGS = {
    "SPARK_GRAFT_CPUS",
    "SPARK_MASTER",
    "SPARK_SQL_SHUFFLE_PARTITIONS",
    "SPARK_UI_ENABLED",
    "SPARK_DRIVER_MEMORY",
    "SPARK_GRAFT_SF_DIR",
    "SPARK_GRAFT_RANGE_JOIN_HINT",
}

# environ.get("X"...), getenv("X"...), environ["X"]
_READ = re.compile(
    r"""(?:environ\.get|getenv)\(\s*["']([A-Za-z0-9_]+)["']"""
    r"""|environ\[\s*["']([A-Za-z0-9_]+)["']\s*\]"""
)


def test_env_reads_are_exactly_the_deployment_settings():
    found: dict[str, list[str]] = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        for m in _READ.finditer(path.read_text(encoding="utf-8")):
            name = m.group(1) or m.group(2)
            found.setdefault(name, []).append(path.name)
    assert set(found) == DEPLOYMENT_SETTINGS, found
