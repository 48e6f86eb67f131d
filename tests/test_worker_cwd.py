"""Python workers import meepo_spark whatever working directory the
session was started from: one graded query per Python-worker class
runs in a process started outside the repo."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# one graded query per Python-worker class
QUERIES = {
    "udf": "u1_pandas_vector_score",
    "udtf": "u4_udtf_sentences",
    "datasource": "s7_python_datasource",
    "applyInPandas": "u2_grouped_map_normalize",
    "applyInArrow": "u9_grouped_arrow_topchars",
}


def test_python_workers_do_not_depend_on_launch_cwd(tmp_path, sf_dir):
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        import __spark_entry__ as entry
        from meepo_spark.session import get_spark

        spark = get_spark("worker-cwd", cpus=2)
        qs = entry.queries()
        failed = []
        for kind, q in {QUERIES!r}.items():
            try:
                qs[q](spark, {sf_dir!r}).write.format("noop").mode("overwrite").save()
            except Exception as e:
                failed.append(kind)
                print(kind, q, str(e)[-600:])
        print("FAILED", failed)
        sys.exit(1 if failed else 0)
        """
    )
    env = dict(os.environ)
    # the package must reach the workers through the session, not
    # through the caller's environment
    env["PYTHONPATH"] = os.pathsep.join(
        p
        for p in env.get("PYTHONPATH", "").split(os.pathsep)
        if p and os.path.abspath(p) != REPO
    )
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stdout[-3000:] + proc.stderr[-2000:]
