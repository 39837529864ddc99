"""Search server process for the serve workloads.

Starts ``plans/serve.make_server`` on an ephemeral port, writes the port
to ``--port-file`` once it is listening, and serves until SIGTERM. With
``--trace FILE`` it wraps the interactive path first (layers.
trace_serving) and, on SIGTERM, writes its spans to FILE before exiting.

    python3 perfbench/server.py --index DIR --port-file FILE [--trace FILE]
"""

from __future__ import annotations

import argparse
import os
import signal
import sys
import threading


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True)
    ap.add_argument("--port-file", required=True)
    ap.add_argument("--trace")
    args = ap.parse_args()

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from spans import Tracer

    tracer = None
    if args.trace:
        from layers import trace_serving

        tracer = Tracer()
        trace_serving(tracer)
    from web_search_engine_spark.plans.serve import make_server, serve_forever_in_thread

    stop = threading.Event()
    signal.signal(signal.SIGTERM, lambda *_: stop.set())
    server = make_server(args.index)
    thread = serve_forever_in_thread(server)
    tmp = args.port_file + ".tmp"
    with open(tmp, "w") as f:
        f.write(str(server.server_address[1]))
    os.replace(tmp, args.port_file)
    parent = os.getppid()
    while not stop.wait(0.05) and os.getppid() == parent:
        pass  # also stop if the benchmark process is gone
    server.shutdown()
    server.server_close()
    thread.join(timeout=30)
    if tracer is not None:
        from layers import directory_usefulness

        spans = tracer.spans
        directory_usefulness(spans)
        tracer.dump(args.trace)
    return 0


if __name__ == "__main__":
    sys.exit(main())
