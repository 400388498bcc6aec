"""Bounded persist registry (``geowombat_spark.cache``)."""

import os
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_bounded_persist_survives_a_restarted_context():
    """Frames of a stopped SparkContext leave the registry without an
    unpersist: filling the registry past MAX_LIVE in a new session must
    not evict through the dead context, where unpersist raises
    Py4JJavaError. Runs in a child process so the suite's session is
    untouched."""
    script = textwrap.dedent(
        """
        from geowombat_spark import cache
        from geowombat_spark.sources.tables import get_spark

        s = get_spark(app="stale-a", master="local[2]", shuffle_partitions=2)
        cache.bounded_persist(s.range(10)).count()
        s.stop()
        s = get_spark(app="stale-b", master="local[2]", shuffle_partitions=2)
        for i in range(cache.MAX_LIVE + 1):
            cache.bounded_persist(s.range(i + 1)).count()
        assert len(cache._LIVE) == cache.MAX_LIVE
        s.stop()
        """
    )
    path = [REPO, os.environ.get("PYTHONPATH", "")]
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(filter(None, path)))
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
