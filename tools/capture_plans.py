"""Capture .explain('formatted') output for named declared queries.

Usage:
    python tools/capture_plans.py <repo_root> <out_dir> <suffix> <query> [query ...]

For each query name, builds the DataFrame via __spark_entry__.queries()
(at $SPARK_GRAFT_SF_DIR, default sf0.1) and writes the formatted plan to
<out_dir>/<query>_<suffix>.txt. The special name ``cdc_pipeline_full``
captures the routed_envelopes pipeline plan (the bench headline leg);
``start_stream_<workload>`` drains a small seeded perfbench feed through
``start_stream`` and captures its streaming physical plan, followed by
the formatted plan of the frame its sink receives.
"""

from __future__ import annotations

import io
import os
import re
import shutil
import sys
from contextlib import redirect_stdout
from pathlib import Path


def main() -> None:
    repo, out_dir, suffix = sys.argv[1], sys.argv[2], sys.argv[3]
    names = sys.argv[4:]
    sys.path.insert(0, repo)
    os.chdir(repo)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)

    from outboxx_spark.session import get_spark

    spark = get_spark("plan_capture")
    import __spark_entry__ as E

    qs = dict(E.queries())

    def stream_plans(workload):
        import tempfile

        sys.path.insert(0, f"{repo}/perfbench")
        from workloads import WORKLOADS, generate_feed, pipeline_config, write_feed

        from outboxx_spark.streaming.job import start_stream

        w = WORKLOADS[workload]
        work = Path(tempfile.mkdtemp())
        write_feed(generate_feed(w, 401, 4000), str(work / "feed"), 2000)
        sunk = []
        q = start_stream(
            spark, str(work / "feed"), pipeline_config(list(w.streams)), str(work / "out"),
            str(work / "ck"), sink_fn=lambda delivery, _: sunk.append(delivery) or delivery.count(),
        )
        q.awaitTermination()
        buf = io.StringIO()
        with redirect_stdout(buf):
            q.explain()
            sunk[-1].explain("formatted")
        shutil.rmtree(work)
        # the temp feed dir and the Observation's random name differ per run
        text = buf.getvalue().replace(str(work), "<work>")
        return re.sub(r"[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "<observation>", text)

    def build(name):
        if name == "cdc_pipeline_full":
            from outboxx_spark.pipeline import routed_envelopes
            from outboxx_spark.testbed import default_config

            return routed_envelopes(spark, sf_dir, default_config())
        return qs[name](spark, sf_dir)

    for name in names:
        try:
            if name.startswith("start_stream_"):
                text = stream_plans(name.removeprefix("start_stream_"))
            else:
                buf = io.StringIO()
                with redirect_stdout(buf):
                    build(name).explain("formatted")
                text = buf.getvalue()
            (out / f"{name}_{suffix}.txt").write_text(text)
            print(f"ok {name}")
        except Exception as e:
            print(f"FAIL {name}: {type(e).__name__}: {e}")
    spark.stop()


if __name__ == "__main__":
    main()
