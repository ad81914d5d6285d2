"""Start the program's ``serve`` command with the benchmark's spans wrapped
around the program's public functions.

    python3 perfbench/serve_traced.py <spans.json> --port <port>

The spans stay in memory and are written to ``<spans.json>`` when the
server stops (SIGINT or SIGTERM).
"""

from __future__ import annotations

import json
import os
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import spans  # noqa: E402


def main() -> None:
    out_path, serve_args = sys.argv[1], sys.argv[2:]
    from etl_pipeline2_0_spark import cli

    tracer = spans.Tracer()
    tracer.install_program_wrappers()
    timing = {}
    get_spark = cli.get_spark

    def timed_get_spark(*a, **kw):
        t0 = time.perf_counter()
        try:
            return get_spark(*a, **kw)
        finally:
            timing["session.get_spark_ms"] = (time.perf_counter() - t0) * 1000.0

    cli.get_spark = timed_get_spark
    signal.signal(signal.SIGTERM, signal.default_int_handler)
    try:
        cli.main(["serve", *serve_args])
    except KeyboardInterrupt:
        pass
    finally:
        with open(out_path, "w") as fh:
            json.dump({"spans": tracer.spans, **timing}, fh)


if __name__ == "__main__":
    main()
