"""In-process bulk-document graph service for the wire sink.

Accepts ``POST /_api/document/{collection}`` with a JSON array body, the shape
``HttpJsonTransport`` sends, and answers 202.  It counts requests, body bytes,
documents and non-2xx responses, and remembers a digest of every batch body:
a retry re-sends an identical batch, so requests beyond the number of distinct
batches are retries.  ``fail_first`` makes the first that many requests answer
503, to check that retries are counted.
"""

from __future__ import annotations

import hashlib
import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer


class GraphService:
    def __init__(self, backlog: int, fail_first: int = 0) -> None:
        self.lock = threading.Lock()
        self.fail_left = fail_first
        self.reset()
        service = self

        class Handler(BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"

            def do_POST(self):
                n = int(self.headers.get("Content-Length") or 0)
                body = self.rfile.read(n)
                collection = self.path.split("?", 1)[0].rsplit("/", 1)[-1]
                status = service._record(collection, body)
                reply = b"{}"
                self.send_response(status)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(reply)))
                self.end_headers()
                self.wfile.write(reply)

            def log_message(self, *args):
                pass

        class Server(ThreadingHTTPServer):
            # every executor task opens its own connection; a backlog below
            # the task count lets the kernel refuse connections that only
            # the transport's retry would hide
            request_queue_size = backlog
            daemon_threads = True

        self.server = Server(("127.0.0.1", 0), Handler)
        self.url = f"http://127.0.0.1:{self.server.server_address[1]}"
        self.thread = threading.Thread(target=self.server.serve_forever, daemon=True)
        self.thread.start()

    def reset(self) -> None:
        with self.lock:
            self.requests = 0
            self.bytes = 0
            self.non_2xx = 0
            self.docs: dict[str, int] = {}
            self.batches: set[tuple[str, bytes]] = set()

    def _record(self, collection: str, body: bytes) -> int:
        with self.lock:
            self.requests += 1
            self.bytes += len(body)
            if self.fail_left > 0:
                self.fail_left -= 1
                self.non_2xx += 1
                return 503
            digest = hashlib.blake2b(body, digest_size=16).digest()
            if (collection, digest) in self.batches:
                return 202
            self.batches.add((collection, digest))
        docs = json.loads(body)
        with self.lock:
            self.docs[collection] = self.docs.get(collection, 0) + len(docs)
        return 202

    def counters(self) -> dict:
        with self.lock:
            docs = sum(self.docs.values())
            return {
                "requests": self.requests,
                "bytes": self.bytes,
                "docs": docs,
                "non_2xx": self.non_2xx,
                "retries": self.requests - len(self.batches),
                "docs_by_collection": dict(self.docs),
            }

    def close(self) -> None:
        self.server.shutdown()
        self.server.server_close()
        self.thread.join(timeout=10)
