#!/usr/bin/env python3
"""Open-loop load generator of the `live` workload.

Sends the lines of --lines over one plaintext TCP connection on a fixed
schedule: line k is due at t0 + k / rate. Each 2 ms tick sends every line
that is due, whether or not the server keeps up, so a stall in the server
shows as waiting, not as a slower send rate. Prints one JSON line: t0 and
the end time in epoch ms, the number of lines sent, and each line's
lateness against its schedule in ms.
"""
import argparse
import json
import socket
import time

TICK_S = 0.002


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--lines", required=True)
    ap.add_argument("--rate", type=float, required=True)
    args = ap.parse_args()
    with open(args.lines, encoding="utf-8") as f:
        lines = [line.encode("utf-8") + b"\n" for line in f.read().splitlines()]
    n, rate = len(lines), args.rate
    late = [0.0] * n
    with socket.create_connection(("127.0.0.1", args.port)) as sock:
        sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        t0 = time.time() + 0.05
        sent = 0
        while sent < n:
            due = min(n, int((time.time() - t0) * rate) + 1)
            if due > sent:
                sock.sendall(b"".join(lines[sent:due]))
                after = time.time()
                for k in range(sent, due):
                    late[k] = round((after - t0 - k / rate) * 1000, 3)
                sent = due
            time.sleep(max(0.0, min(TICK_S, t0 + sent / rate - time.time())))
        end = time.time()
    print(json.dumps({"t0_ms": t0 * 1000, "end_ms": int(end * 1000), "sent": sent, "late_ms": late}))


if __name__ == "__main__":
    main()
