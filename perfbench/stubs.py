"""Local Splunk-HEC and OpenSearch-bulk HTTP stubs, run in their own process.

Each stub accepts a POST whose body is a JSON array of records (what
``RequestsTransport`` sends), answers 200 and keeps ``(receipt time,
path, body)``.  Nothing is parsed while the benchmark measures; a
control endpoint parses and checks afterwards:

- ``POST /reset``   forget everything received;
- ``POST /verify``  check delivery of files ``first .. first+files-1`` of
  ``seed`` (``records`` per file, each delivered once) against an
  independent Python model of the reference transform, and return each
  file's last receipt time per sink.

Run::

    python3 -m perfbench.stubs --port-file PATH

The port file receives ``{"hec": port, "bulk": port, "control": port}``
once the servers listen.  The process exits when terminated, when its
parent dies, or after ``common.HARD_TIMEOUT_S``.
"""

from __future__ import annotations

import argparse
import json
import os
import threading
import time
from collections import Counter
from datetime import datetime
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from perfbench import loadgen
from perfbench.common import HARD_TIMEOUT_S

ES_FIELDS = ("random_id", "kind_id", "account_id", "performer_id", "repository_id",
             "ip", "metadata", "datetime", "@timestamp")
INDEX_PREFIX = "logs-"
SPLUNK_INDEX = "audit"


# --- reference model (lambda_function.py semantics) ----------------------

def model_process(record: dict) -> dict:
    message = dict(record)
    message["@timestamp"] = message["datetime"]
    if "ip" in message and not message["ip"]:
        message.pop("ip")
    return message


def model_es_action(record: dict) -> dict:
    message = model_process(record)
    day = datetime.fromisoformat(message["datetime"]).date()
    return {
        "_index": f"{INDEX_PREFIX}{day}",
        "_id": message["random_id"],
        "_source": {k: v for k, v in message.items() if k in ES_FIELDS},
    }


def model_hec_event(record: dict) -> dict:
    return {"event": model_process(record), "sourcetype": "json", "index": SPLUNK_INDEX}


def _canon(obj: dict) -> str:
    return json.dumps(obj, sort_keys=True, separators=(",", ":"))


def _record_id(path: str, item: dict) -> str:
    return item["_id"] if path == "bulk" else item["event"]["random_id"]


class Store:
    """Everything the stubs received, plus the checks over it."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.raw: list[tuple[float, str, bytes]] = []
        self._expected: dict[tuple, dict[str, Counter]] = {}

    def add(self, t: float, path: str, body: bytes) -> None:
        with self.lock:
            self.raw.append((t, path, body))

    def reset(self) -> None:
        with self.lock:
            self.raw = []

    def parsed(self):
        with self.lock:
            raw = list(self.raw)
        for t, path, body in raw:
            for item in json.loads(body):
                yield t, path, item

    def expected(self, seed: int, first: int, files: int, records: int) -> dict[str, Counter]:
        """The model's output for those files, one delivery each."""
        key = (seed, first, files, records)
        if key not in self._expected:
            out = {"bulk": Counter(), "hec": Counter()}
            for _, payloads in loadgen.iter_files(seed, first, files, records):
                for p in payloads:
                    if not loadgen.is_poison(p):
                        rec = json.loads(p)
                        out["bulk"][_canon(model_es_action(rec))] += 1
                        out["hec"][_canon(model_hec_event(rec))] += 1
            self._expected[key] = out
        return self._expected[key]

    def verify(self, seed: int, first: int, files: int, records: int) -> dict:
        expected = self.expected(seed, first, files, records)
        got = {"bulk": Counter(), "hec": Counter()}
        last: dict[str, dict[int, float]] = {"bulk": {}, "hec": {}}
        for t, path, item in self.parsed():
            got[path][_canon(item)] += 1
            k = loadgen.file_of(_record_id(path, item))
            if t > last[path].get(k, 0.0):
                last[path][k] = t
        out = {"ok": True, "errors": []}
        for path in ("bulk", "hec"):
            missing = expected[path] - got[path]
            extra = got[path] - expected[path]
            n_exp = sum(expected[path].values())
            n_missing = sum(missing.values())
            out[path] = {"expected": n_exp, "matched": n_exp - n_missing,
                         "missing": n_missing, "unexpected": sum(extra.values())}
            if missing or extra:
                out["ok"] = False
                sample = [*list(missing)[:2], *list(extra)[:2]]
                out["errors"].append(f"{path}: {n_missing} missing, "
                                     f"{sum(extra.values())} unexpected; e.g. {sample}")
        out["last_receipt"] = {p: {str(k): t for k, t in v.items()} for p, v in last.items()}
        return out


def _handler(store: Store, path_name: str | None):
    class Handler(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"
        disable_nagle_algorithm = True  # no delayed-ACK stall between header and body writes

        def _reply(self, obj: dict) -> None:
            body = json.dumps(obj).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_POST(self) -> None:  # noqa: N802 - BaseHTTPRequestHandler API
            body = self.rfile.read(int(self.headers["Content-Length"]))
            if path_name is not None:
                store.add(time.time(), path_name, body)
                self._reply({})
            elif self.path == "/reset":
                store.reset()
                self._reply({})
            elif self.path == "/verify":
                self._reply(store.verify(**json.loads(body)))
            else:
                self.send_error(404)

        def log_message(self, *args) -> None:
            pass

    return Handler


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(prog="perfbench.stubs")
    p.add_argument("--port-file", required=True)
    a = p.parse_args(argv)

    store = Store()
    servers = {
        name: ThreadingHTTPServer(("127.0.0.1", 0), _handler(store, path))
        for name, path in (("hec", "hec"), ("bulk", "bulk"), ("control", None))
    }
    for srv in servers.values():
        srv.daemon_threads = True
        threading.Thread(target=srv.serve_forever, daemon=True).start()
    ports = {name: srv.server_port for name, srv in servers.items()}
    with open(a.port_file + ".tmp", "w") as f:
        json.dump(ports, f)
    os.rename(a.port_file + ".tmp", a.port_file)

    parent = os.getppid()
    deadline = time.time() + HARD_TIMEOUT_S
    while os.getppid() == parent and time.time() < deadline:
        time.sleep(0.5)
    for srv in servers.values():
        srv.shutdown()
        srv.server_close()


if __name__ == "__main__":
    main()
