"""Start the package's HTTP server (``server.main``) with the benchmark's span
wrappers installed, for the traced ``serve_ann`` run.

    python perfbench/serve_launcher.py SPANS_OUT -- <server.main arguments>

Wrapped boundaries: the HTTP request (from ``parse_request``, i.e. once the
request line has arrived, to the end of ``handle_one_request``; the request
id is read from the ``X-Request-Id`` header), ``Collection.ann_serve``,
``Warehouse.shard_paths``, ``partitioned.ivf_handle_for`` and
``IvfReplicaHandle.search_one``.

Signals: SIGUSR1 flips span recording on/off (it starts on, so the index
build is captured); SIGUSR2 writes the spans to SPANS_OUT (JSON lines, then
an empty ``SPANS_OUT.done`` marker); SIGTERM stops the server.
"""

from __future__ import annotations

import os
import signal
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import Tracer, _Span  # noqa: E402


def install(tracer: Tracer) -> None:
    from http.server import BaseHTTPRequestHandler

    from custom_python_vectordb_spark import api
    from custom_python_vectordb_spark.operators import partitioned
    from custom_python_vectordb_spark.sources import warehouse

    orig_parse = BaseHTTPRequestHandler.parse_request
    orig_one = BaseHTTPRequestHandler.handle_one_request

    def parse_request(self):
        if tracer.enabled:
            self._pb_span = _Span(tracer, "server.request").__enter__()
        return orig_parse(self)

    def handle_one_request(self):
        self._pb_span = None
        try:
            return orig_one(self)
        finally:
            sp = self._pb_span
            if sp is not None:
                sp.__exit__(None, None, None)
                rid = self.headers.get("X-Request-Id") if self.headers else None
                with tracer._lock:
                    n, t0, t1, p, _ = tracer.spans[sp.slot]
                    tracer.spans[sp.slot] = (n, t0, t1, p, rid)

    BaseHTTPRequestHandler.parse_request = parse_request
    BaseHTTPRequestHandler.handle_one_request = handle_one_request
    tracer.install(api.Collection, "ann_serve", "api.ann_serve")
    tracer.install(warehouse.Warehouse, "shard_paths", "sources.shard_paths")
    # ann_serve imports ivf_handle_for at call time, so the module attribute
    # is the one it gets
    tracer.install(partitioned, "ivf_handle_for", "operators.ivf_handle_for")
    tracer.install(partitioned.IvfReplicaHandle, "search_one", "operators.search_one")


def main() -> None:
    if len(sys.argv) < 3 or sys.argv[2] != "--":
        raise SystemExit("usage: serve_launcher.py SPANS_OUT -- SERVER_ARGS")
    spans_out = sys.argv[1]
    tracer = Tracer()
    install(tracer)

    def toggle(*_):
        tracer.enabled = not tracer.enabled

    def dump(*_):
        tracer.dump(spans_out)
        open(spans_out + ".done", "w").close()

    def stop(*_):
        raise KeyboardInterrupt

    signal.signal(signal.SIGUSR1, toggle)
    signal.signal(signal.SIGUSR2, dump)
    signal.signal(signal.SIGTERM, stop)
    from custom_python_vectordb_spark import server

    sys.argv = [sys.argv[0], *sys.argv[3:]]
    server.main()


if __name__ == "__main__":
    main()
