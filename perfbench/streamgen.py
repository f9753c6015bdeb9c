"""Open-loop record generator for the `stream` workload.

Runs as its own process. It listens on a localhost port, accepts the
engine's socket source, sends the warm-up records and keeps sending at the
first rung's rate until the engine writes its `ready` file, then sends the
rate ladder on a fixed schedule: record j of
a rung is due at rung_start + j / rate, and the schedule never waits for
the engine. It writes the schedule and how late it ran to `gen.json`, and
the number of records sent to `done`.

    python3 streamgen.py --records FILE --dir DIR --warmup N --ladder 600:10,1200:10

The ladder starts at a multiple of TRIGGER_S seconds of the epoch, where
the engine's processing-time trigger fires, and each rung's records are
due from GUARD_S after its start to GUARD_S before its end, so every rung
begins and ends inside whole trigger intervals and none spills into the
next one.
"""
import argparse
import json
import os
import socket
import time

TRIGGER_S = 5.0  # the engine's trigger interval (StreamRun.TriggerMs)
GUARD_S = 0.05


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--records", required=True)
    ap.add_argument("--dir", required=True)
    ap.add_argument("--warmup", type=int, required=True)
    ap.add_argument("--ladder", required=True, help="rate:seconds,...")
    a = ap.parse_args()
    with open(a.records, "rb") as f:
        lines = f.read().splitlines(keepends=True)
    ladder = [tuple(float(x) for x in r.split(":")) for r in a.ladder.split(",")]
    need = a.warmup + sum(int(rate * secs) for rate, secs in ladder)
    if need > len(lines):
        raise SystemExit(f"need {need} records, have {len(lines)}")

    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    tmp = os.path.join(a.dir, "port.tmp")
    with open(tmp, "w") as f:
        f.write(str(srv.getsockname()[1]))
    os.replace(tmp, os.path.join(a.dir, "port"))
    srv.settimeout(120)
    conn, _ = srv.accept()
    conn.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
    conn.sendall(b"".join(lines[:a.warmup]))
    sent = a.warmup
    # until the engine is ready, keep warming it at the first rung's rate
    ready = os.path.join(a.dir, "ready")
    warm_rate = ladder[0][0]
    t_warm = time.time()
    deadline = t_warm + 120
    while not os.path.exists(ready):
        if time.time() > deadline:
            raise SystemExit("engine never became ready")
        due = min(len(lines) - (need - a.warmup),
                  a.warmup + int((time.time() - t_warm) * warm_rate))
        if due > sent:
            conn.sendall(b"".join(lines[sent:due]))
            sent = due
        time.sleep(0.005)
    warmup = sent

    rungs = []
    t_start = (time.time() // TRIGGER_S + 1) * TRIGGER_S
    time.sleep(max(0.0, t_start - time.time()))
    t_rung = t_start + GUARD_S
    for rate, secs in ladder:
        n = int(rate * (secs - 2 * GUARD_S))
        first = sent
        lags = []
        j = 0
        while j < n:
            now = time.time()
            due_j = min(n, int((now - t_rung) * rate) + 1)
            if due_j > j:
                # the records now due, sent together; each one's lag is
                # how long after its due time it left
                lags.append(now - (t_rung + j / rate))
                conn.sendall(b"".join(lines[sent:sent + due_j - j]))
                sent += due_j - j
                j = due_j
            else:
                time.sleep(min(0.002, (t_rung + j / rate) - now))
        rungs.append({"rate": rate, "seconds": secs, "start": t_rung,
                      "first": first, "count": n,
                      "max_lag_s": max(lags) if lags else 0.0})
        t_rung += secs
        time.sleep(max(0.0, t_rung - time.time()))
    with open(os.path.join(a.dir, "gen.json"), "w") as f:
        json.dump({"warmup": warmup, "rungs": rungs, "sent": sent}, f)
    with open(os.path.join(a.dir, "done.tmp"), "w") as f:
        f.write(str(sent))
    os.replace(os.path.join(a.dir, "done.tmp"), os.path.join(a.dir, "done"))
    # hold the connection until the engine closes it
    conn.settimeout(300)
    try:
        while conn.recv(4096):
            pass
    except OSError:
        pass
    conn.close()
    srv.close()


if __name__ == "__main__":
    main()
