"""One session factory: every local SparkSession comes from
``session.get_spark``. The only other builder is the spark-submit entry
point, where the launcher supplies the master and confs."""

from __future__ import annotations

from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
ALLOWED = {"character_identification_spark/session.py", "tools/submit_pipeline.py"}


def test_spark_sessions_come_from_get_spark():
    files = [
        *REPO.glob("*.py"),
        *(REPO / "tools").glob("*.py"),
        *(REPO / "character_identification_spark").rglob("*.py"),
    ]
    builders = {
        p.relative_to(REPO).as_posix()
        for p in files
        if "SparkSession.builder" in p.read_text()
    }
    assert "character_identification_spark/session.py" in builders
    assert builders <= ALLOWED, sorted(builders - ALLOWED)
