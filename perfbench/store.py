"""Stand-in FHIR store for the sync workloads, run in its own process.

Semantics follow the stateful mock store of the engine's job tests:
transaction/batch Bundles POSTed to the base URL, where POST assigns a
server id (honouring ``ifNoneExist: identifier=<value>``), PUT replaces or
creates ``Type/id`` and DELETE removes it (``?_cascade`` is ignored). Only
the writer's Bundle mode is served; per-row writes are not.

Searches ``GET /Type?_count=N[&identifier=<system>|][&_offset=K]`` are paged
through a ``next`` link. Every resource is indexed at write time by
``(type, identifier[0].system)``, so a page costs O(page): the store never
scans or re-parses stored resources to answer a search.

Admin endpoints (``/_admin/...``, not counted in the stats): ``save`` /
``restore`` / ``reset`` the state, ``dump`` it, ``stats`` (busy seconds,
requests, bytes in and out since start) and ``digest`` (per resource type:
count and a hash of the sorted (key, canonical body) pairs, comparable with
:func:`digest_rows`).

Run: ``python3 store.py`` prints ``PORT <n>`` once listening on 127.0.0.1
and serves until ``/_admin/shutdown``, SIGTERM, or the end of its standard
input (so it never outlives the benchmark process that started it).
"""

from __future__ import annotations

import copy
import hashlib
import http.server
import json
import signal
import sys
import threading
import time
from urllib.parse import parse_qs, quote, urlsplit


def canonical(resource: dict) -> str:
    """A resource's body without its server id, keys sorted."""
    return json.dumps(
        {k: v for k, v in resource.items() if k != "id"}, sort_keys=True, separators=(",", ":")
    )


def digest_rows(rows) -> dict[str, dict]:
    """``rows``: (resource_type, key, resource dict) triples → per type
    ``{"count": n, "sha256": hash of the sorted key/body lines}``."""
    lines: dict[str, list[str]] = {}
    for rtype, key, res in rows:
        lines.setdefault(rtype, []).append(f"{key}\t{canonical(res)}")
    out = {}
    for rtype, ls in sorted(lines.items()):
        ls.sort()
        out[rtype] = {"count": len(ls), "sha256": hashlib.sha256("\n".join(ls).encode()).hexdigest()}
    return out


def _ident(res: dict) -> tuple[str | None, str | None]:
    ident = res.get("identifier") or []
    first = ident[0] if ident and isinstance(ident[0], dict) else {}
    return first.get("system"), first.get("value")


class State:
    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.seq = 0
        # (type, id) -> (system, key, stored body JSON incl. id)
        self.res: dict[tuple[str, str], tuple[str | None, str | None, str]] = {}
        # (type, system) and (type, None) -> insertion-ordered id set
        self.index: dict[tuple[str, str | None], dict[str, None]] = {}
        self.by_key: dict[tuple[str, str], str] = {}
        self.pages: dict[tuple[str, str | None], list[str]] = {}
        self.saved = None
        self.busy_s = 0.0
        self.requests = 0
        self.bytes_in = 0
        self.bytes_out = 0

    # -- mutation (caller holds the lock) --------------------------------
    def delete(self, rtype: str, rid: str) -> None:
        old = self.res.pop((rtype, rid), None)
        if old is None:
            return
        system, key, _ = old
        for ix in ((rtype, system), (rtype, None)):
            self.index.get(ix, {}).pop(rid, None)
            self.pages.pop(ix, None)
        if key is not None and self.by_key.get((rtype, key)) == rid:
            del self.by_key[(rtype, key)]

    def put(self, rtype: str, rid: str, res: dict) -> None:
        self.delete(rtype, rid)
        res = dict(res, id=rid)
        system, key = _ident(res)
        self.res[(rtype, rid)] = (system, key, json.dumps(res, separators=(",", ":")))
        for ix in ((rtype, system), (rtype, None)):
            self.index.setdefault(ix, {})[rid] = None
            self.pages.pop(ix, None)
        if key is not None:
            self.by_key[(rtype, key)] = rid

    def create(self, rtype: str, res: dict, if_none_exist: str | None) -> tuple[str, str]:
        if if_none_exist and if_none_exist.startswith("identifier="):
            hit = self.by_key.get((rtype, if_none_exist.split("=", 1)[1].split("|")[-1]))
            if hit is not None:
                return "200 OK", hit
        self.seq += 1
        rid = str(self.seq)
        self.put(rtype, rid, res)
        return "201 Created", rid

    # -- snapshots ---------------------------------------------------------
    def save(self) -> None:
        self.saved = copy.deepcopy((self.seq, self.res, self.index, self.by_key))

    def restore(self) -> None:
        seq, res, index, by_key = copy.deepcopy(self.saved) if self.saved else (0, {}, {}, {})
        self.seq, self.res, self.index, self.by_key = seq, res, index, by_key
        self.pages = {}

    def page(self, rtype: str, system: str | None, offset: int, count: int) -> tuple[int, list[str]]:
        ix = (rtype, system)
        ids = self.pages.get(ix)
        if ids is None:
            ids = self.pages[ix] = list(self.index.get(ix, {}))
        return len(ids), [self.res[(rtype, rid)][2] for rid in ids[offset:offset + count]]

    def digest(self) -> dict[str, dict]:
        return digest_rows((rtype, key, json.loads(body)) for (rtype, _), (_, key, body) in self.res.items())


class Handler(http.server.BaseHTTPRequestHandler):
    protocol_version = "HTTP/1.1"

    def log_message(self, *args) -> None:
        pass

    def _body(self) -> bytes:
        n = int(self.headers.get("Content-Length") or 0)
        return self.rfile.read(n) if n else b""

    def _reply(self, payload: str | bytes, status: int = 200) -> int:
        data = payload.encode() if isinstance(payload, str) else payload
        self.send_response(status)
        self.send_header("Content-Type", "application/fhir+json")
        self.send_header("Content-Length", str(len(data)))
        self.end_headers()
        self.wfile.write(data)
        return len(data)

    def _handle(self, method: str) -> None:
        t0 = time.perf_counter()
        st: State = self.server.state
        url = urlsplit(self.path)
        if url.path.startswith("/_admin/"):
            self._admin(st, url.path[len("/_admin/"):])
            return
        raw = self._body() if method == "POST" else b""
        try:
            if method == "GET":
                out, status = self._search(st, url.path.strip("/"), parse_qs(url.query)), 200
            elif url.path.strip("/"):
                out, status = json.dumps({"resourceType": "OperationOutcome"}), 405
            else:
                out, status = self._bundle(st, json.loads(raw)), 200
        except Exception as exc:  # noqa: BLE001 — report, never kill the server
            out, status = json.dumps({"resourceType": "OperationOutcome", "issue": [str(exc)]}), 400
        sent = self._reply(out, status)
        with st.lock:
            st.busy_s += time.perf_counter() - t0
            st.requests += 1
            st.bytes_in += len(raw)
            st.bytes_out += sent

    @staticmethod
    def _bundle(st: State, bundle: dict) -> str:
        out = []
        with st.lock:
            for ent in bundle.get("entry") or []:
                req = ent["request"]
                path = req["url"].split("?")[0].strip("/").split("/")
                if req["method"] == "POST":
                    status, rid = st.create(path[0], ent["resource"], req.get("ifNoneExist"))
                elif req["method"] == "PUT":
                    st.put(path[0], path[1], ent["resource"])
                    status, rid = "200 OK", path[1]
                elif req["method"] == "DELETE":
                    st.delete(path[0], path[1])
                    status, rid = "204 No Content", path[1]
                else:
                    status, rid = "405 Method Not Allowed", None
                out.append({"response": {"status": status, "location": f"{path[0]}/{rid}"}})
        return json.dumps({"resourceType": "Bundle", "type": f"{bundle.get('type')}-response", "entry": out})

    def _search(self, st: State, rtype: str, q: dict) -> str:
        count = int(q.get("_count", ["100"])[0])
        offset = int(q.get("_offset", ["0"])[0])
        ident = q.get("identifier", [None])[0]
        system = ident.split("|")[0] if ident else None
        with st.lock:
            total, bodies = st.page(rtype, system, offset, count)
        links = []
        if offset + count < total:
            nxt = f"http://{self.headers['Host']}/{rtype}?_format=json&_count={count}&_offset={offset + count}"
            if ident:
                nxt += f"&identifier={quote(ident, safe='')}"
            links.append({"relation": "next", "url": nxt})
        head = json.dumps({"resourceType": "Bundle", "type": "searchset", "total": total, "link": links})
        return head[:-1] + ',"entry":[' + ",".join('{"resource":' + b + "}" for b in bodies) + "]}"

    def _admin(self, st: State, op: str) -> None:
        self._body()
        with st.lock:
            if op == "save":
                st.save()
            elif op == "restore":
                st.restore()
            elif op == "reset":
                st.saved = None
                st.restore()
            elif op == "dump":
                self._reply("[" + ",".join(body for _, _, body in st.res.values()) + "]")
                return
            elif op == "digest":
                self._reply(json.dumps(st.digest()))
                return
            elif op == "stats":
                self._reply(json.dumps({k: getattr(st, k) for k in ("busy_s", "requests", "bytes_in", "bytes_out")}))
                return
            elif op == "shutdown":
                self._reply("{}")
                threading.Thread(target=self.server.shutdown, daemon=True).start()
                return
            else:
                self._reply("{}", 404)
                return
        self._reply("{}")

    def do_GET(self) -> None:
        self._handle("GET")

    def do_POST(self) -> None:
        self._handle("POST")



def main() -> int:
    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    srv.daemon_threads = True
    srv.state = State()
    signal.signal(signal.SIGTERM, lambda *_: threading.Thread(target=srv.shutdown, daemon=True).start())

    def stop_at_eof() -> None:
        sys.stdin.read()
        srv.shutdown()

    threading.Thread(target=stop_at_eof, daemon=True).start()
    print(f"PORT {srv.server_address[1]}", flush=True)
    srv.serve_forever()
    srv.server_close()
    return 0


if __name__ == "__main__":
    sys.exit(main())
