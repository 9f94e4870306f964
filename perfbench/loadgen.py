"""Load generator for the fan-out phase of the cdc workload, run as its
own process:

    python3 perfbench/loadgen.py CONFIG_JSON

It pre-builds every changelog file from the seed and prints ``BUILT``.
The load comes in windows of ``per_window`` files, in a closed loop with
one file in flight: on each ``GO`` from standard input it writes a file
under a hidden temporary name and renames it into the changelog
directory (the file source never sees a partial file), waits until the
subscriber has every event of it that the subscription matches, and
only then writes the next. Each record carries its file's due time (the
moment the generator starts writing it) as ``ts_header``, and an
event's latency runs from it to its receipt, timestamped by a receiver
thread on one ``SubscribeClient``. After the window's last file it
prints ``DONE``; after the last window it writes receipts, lateness and
counts to the result path and exits.
"""

from __future__ import annotations

import json
import os
import re
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_TS = "__DUE_TS__"


def _receiver(client, receipts: list, stop: threading.Event, evicted: list) -> None:
    from wing_binlog_go_spark.streaming.subscribe import CMD_EVENT

    while not stop.is_set():
        try:
            cmd, payload = client.recv_frame(timeout=0.5)
        except TimeoutError:
            continue
        except OSError:  # includes ConnectionError: the gateway hung up
            evicted.append(not stop.is_set())
            return
        if cmd == CMD_EVENT and payload is not None:
            receipts.append((time.monotonic(), payload))


def main(cfg: dict) -> None:
    sys.path.insert(0, ROOT)
    from perfbench.datagen import DATABASE, ChangeStream, iso_utc
    from wing_binlog_go_spark.streaming.subscribe import SubscribeClient

    per_file = cfg["per_file"]
    n_files = cfg["windows"] * cfg["per_window"]
    t_prep = time.perf_counter()
    stream = ChangeStream(cfg["seed"], cfg["keys_per_table"])
    files = [stream.file_lines(k, per_file, _TS) for k in range(n_files)]
    topic = re.compile(cfg["topic"])
    matched = [s for s, t in enumerate(stream.tables)
               if topic.search(f"{DATABASE}.t{t}")]
    prep_s = time.perf_counter() - t_prep
    print("BUILT", flush=True)

    out_dir = cfg["changelog"]
    mono0, wall0 = time.monotonic(), time.time()
    due_at = []  # monotonic due time of each file
    late_ms = []  # due time → file visible in the changelog directory
    for w in range(cfg["windows"]):
        if sys.stdin.readline().strip() != "GO":
            raise SystemExit("expected GO")
        if w == 0:  # subscribed from the load on, not to the warm-up
            client = SubscribeClient(cfg["host"], cfg["port"])
            client.subscribe(cfg["topic"])
            receipts: list = []
            stop = threading.Event()
            evicted: list[bool] = []
            rx = threading.Thread(target=_receiver, args=(client, receipts, stop, evicted),
                                  daemon=True)
            rx.start()
            time.sleep(0.2)  # the gateway registers the subscription
        for j in range(cfg["per_window"]):
            k = w * cfg["per_window"] + j
            due = time.monotonic()
            tmp = os.path.join(out_dir, f".part-{k:05d}.tmp")
            with open(tmp, "w") as fh:
                fh.write(files[k].replace(_TS, iso_utc(wall0 + due - mono0)))
            os.rename(tmp, os.path.join(out_dir, f"part-{k:05d}.jsonl"))
            due_at.append(due)
            late_ms.append((time.monotonic() - due) * 1000.0)
            want = sum(1 for s in matched if s < (k + 1) * per_file)
            deadline = time.monotonic() + cfg["drain_timeout"]
            while len(receipts) < want and time.monotonic() < deadline:
                time.sleep(0.002)
        print("DONE", flush=True)

    time.sleep(0.2)  # a duplicate or stray event would land here
    stop.set()
    rx.join(timeout=5)
    client.close()

    rows = []
    for t_recv, payload in receipts:
        env = json.loads(payload)
        data = env["event"]["data"]
        seq = int((data["new_data"] if env["event_type"] == "update" else data)["seq"])
        rows.append([seq, env["event_index"], (t_recv - due_at[seq // per_file]) * 1000.0])
    with open(cfg["result"], "w") as fh:
        json.dump({
            "prep_s": prep_s,
            "sent": n_files * per_file,
            "matched": matched,
            "late_ms": late_ms,
            "receipts": rows,
            "evicted": any(evicted),
        }, fh)


if __name__ == "__main__":
    with open(sys.argv[1]) as f:
        main(json.load(f))
