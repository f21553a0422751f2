"""Loopback origin server for the live-crawl workload.

One process, one asyncio thread.  It serves the synthetic web of
``mechaml_spark.corpus.server_response`` over HTTP/1.1 keep-alive, with
every ``host{i}.test`` renamed to the loopback address ``127.0.0.{i+1}``.
Each address listens on port 80 because the crawler's URL canonicalisation drops the default
port and asks for ``http://host/robots.txt``.

A control listener on ``127.0.0.1:<ephemeral>`` takes one command per line
and answers one JSON line:

  ``stats``               counters: requests, conns, bytes_out, resets,
                          cpu_s (process CPU time since the last reset)
  ``reset_counters``      zero the counters
  ``fault <addr> <path> <n>``  answer the next ``n`` requests for that URL
                          with a TCP reset (self-test of the failure count)
  ``quit``                stop serving and exit (as does EOF on stdin)

Usage: python3 perfbench/origin.py --hosts H --pages P --links L
       --images I --corpus-seed S
Prints ``READY <control port>`` on stdout once every listener is bound.
"""

from __future__ import annotations

import argparse
import asyncio
import json
import os
import socket
import struct
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mechaml_spark.corpus import CorpusSpec, server_response  # noqa: E402
from web import live_host, to_live  # noqa: E402

_REASON = {200: "OK", 301: "Moved Permanently", 302: "Found", 404: "Not Found"}


class Origin:
    def __init__(self, spec: CorpusSpec) -> None:
        self.spec = spec
        self.host_of = {live_host(i): i for i in range(spec.n_hosts)}
        self.cache: dict[tuple[str, str], bytes] = {}
        self.faults: dict[tuple[str, str], int] = {}
        self.counters = dict(requests=0, conns=0, bytes_out=0, resets=0)
        self.cpu0 = time.process_time()
        self.servers: list[asyncio.AbstractServer] = []
        self.stopped = asyncio.Event()

    def render(self, addr: str, path: str) -> bytes:
        key = (addr, path)
        raw = self.cache.get(key)
        if raw is not None:
            return raw
        resp = server_response(
            self.spec, f"http://host{self.host_of[addr]}.test{path}"
        )
        if resp is None:
            status, headers, body = 404, [], b""
        else:
            status = resp["status"]
            body = to_live(resp["body"]).encode()
            headers = [("Content-Type", "text/html; charset=utf-8")]
            if resp["location"]:
                headers.append(("Location", to_live(resp["location"])))
            headers += [("Set-Cookie", c) for c in resp["set_cookie"]]
        head = [f"HTTP/1.1 {status} {_REASON.get(status, 'Status')}"]
        head += [f"{k}: {v}" for k, v in headers]
        head.append(f"Content-Length: {len(body)}")
        raw = ("\r\n".join(head) + "\r\n\r\n").encode() + body
        self.cache[key] = raw
        return raw

    async def serve(self, reader, writer) -> None:
        addr = writer.get_extra_info("sockname")[0]
        self.counters["conns"] += 1
        try:
            while True:
                line = await reader.readline()
                if not line:
                    break
                while (await reader.readline()) not in (b"\r\n", b"\n", b""):
                    pass
                parts = line.decode("latin-1").split()
                if len(parts) < 2:
                    break
                path = parts[1]
                self.counters["requests"] += 1
                left = self.faults.get((addr, path), 0)
                if left:
                    self.faults[(addr, path)] = left - 1
                    self.counters["resets"] += 1
                    sock = writer.get_extra_info("socket")
                    sock.setsockopt(
                        socket.SOL_SOCKET, socket.SO_LINGER,
                        struct.pack("ii", 1, 0),
                    )
                    writer.transport.abort()
                    return
                raw = self.render(addr, path)
                self.counters["bytes_out"] += len(raw)
                writer.write(raw)
                await writer.drain()
        except ConnectionError:
            pass
        finally:
            writer.close()

    async def control(self, reader, writer) -> None:
        try:
            while True:
                line = await reader.readline()
                if not line:
                    break
                cmd = line.decode().split()
                if not cmd:
                    continue
                if cmd[0] == "stats":
                    out = dict(self.counters,
                               cpu_s=time.process_time() - self.cpu0)
                elif cmd[0] == "reset_counters":
                    for k in self.counters:
                        self.counters[k] = 0
                    self.cpu0 = time.process_time()
                    out = {"ok": True}
                elif cmd[0] == "fault" and len(cmd) == 4:
                    self.faults[(cmd[1], cmd[2])] = int(cmd[3])
                    out = {"ok": True}
                elif cmd[0] == "quit":
                    self.stopped.set()
                    out = {"ok": True}
                else:
                    out = {"error": f"unknown command {cmd!r}"}
                writer.write((json.dumps(out) + "\n").encode())
                await writer.drain()
        finally:
            writer.close()

    async def run(self) -> None:
        for addr in self.host_of:
            self.servers.append(
                await asyncio.start_server(
                    self.serve, addr, 80, reuse_address=True, backlog=256
                )
            )
        ctl = await asyncio.start_server(self.control, "127.0.0.1", 0)
        port = ctl.sockets[0].getsockname()[1]
        # stdin is a pipe from the benchmark: EOF means it is gone
        stdin = asyncio.StreamReader()
        await asyncio.get_running_loop().connect_read_pipe(
            lambda: asyncio.StreamReaderProtocol(stdin), sys.stdin
        )
        watch = asyncio.create_task(stdin.read())
        watch.add_done_callback(lambda _: self.stopped.set())
        print(f"READY {port}", flush=True)
        await self.stopped.wait()
        watch.cancel()
        for s in [*self.servers, ctl]:
            s.close()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--hosts", type=int, required=True)
    ap.add_argument("--pages", type=int, required=True)
    ap.add_argument("--links", type=int, required=True)
    ap.add_argument("--images", type=int, required=True)
    ap.add_argument("--corpus-seed", type=int, required=True)
    a = ap.parse_args()
    if not 1 <= a.hosts <= 254:
        ap.error("need 1 <= hosts <= 254")
    spec = CorpusSpec(
        n_hosts=a.hosts, pages_per_host=a.pages, links_per_page=a.links,
        images_per_page=a.images, seed=a.corpus_seed,
    )
    asyncio.run(Origin(spec).run())
    return 0


if __name__ == "__main__":
    sys.exit(main())
