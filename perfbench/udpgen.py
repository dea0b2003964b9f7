"""Paced legacy-UDP sender for the live_psi workload.

Reads the seeded mux templates written by the benchmark JVM (`live.tpl`,
188-byte packets, and `live.tpl.json`, which says which packets are the
PAT, the SDT, each program's PMT at each version, and each ES filler) and
sends them to 127.0.0.1:<port> at a fixed packet rate, 7 packets per
datagram, in 100 ms frames: PAT and every PMT each frame, the SDT every
tenth frame, ES filler for the rest. The sender does not wait for the
engine (open loop).

Control lines on stdin:
  BUMPS <t0_ms> <interval_ms> <n> <n_programs>
      bump k takes effect at t0 + k * interval: program bump_order[k % n]
      is sent with PMT version k // n_programs + 1 from then on. Frames are
      re-aligned so that every bump falls on a frame start.
  STOP
      stop sending; print one JSON line of statistics and exit.
"""
import argparse
import json
import socket
import sys
import threading
import time

PKT = 188
PER_DGRAM = 7
FRAME_S = 0.1


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--tpl", required=True)
    ap.add_argument("--pps", type=int, required=True)
    a = ap.parse_args()
    with open(a.tpl, "rb") as f:
        raw = f.read()
    with open(a.tpl + ".json") as f:
        man = json.load(f)
    pkts = [bytearray(raw[i:i + PKT]) for i in range(0, len(raw), PKT)]
    n_prog = len(man["programs"])
    order = man["bump_order"]
    version = [0] * n_prog
    cc = {}

    state = {"bumps": None, "stop": False}

    def control():
        for line in sys.stdin:
            parts = line.split()
            if parts and parts[0] == "BUMPS":
                state["bumps"] = tuple(int(x) for x in parts[1:5])
            elif parts and parts[0] == "STOP":
                break
        state["stop"] = True

    threading.Thread(target=control, daemon=True).start()

    def stamp(idx):
        p = bytearray(pkts[idx])
        pid = ((p[1] & 0x1F) << 8) | p[2]
        c = cc.get(pid, 0)
        p[3] = (p[3] & 0xF0) | (c & 0xF)
        cc[pid] = c + 1
        return bytes(p)

    es = [e[1] for e in man["es"]]
    per_frame = max(PER_DGRAM, a.pps // 10)
    sock = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
    dest = ("127.0.0.1", a.port)
    start = time.time()
    base = start
    frame = 0
    es_i = 0
    applied = 0
    aligned = False
    sent_pkts = sent_dgrams = 0
    late_max = late_sum = 0.0
    while not state["stop"]:
        bumps = state["bumps"]
        if bumps and not aligned:
            t0 = bumps[0] / 1000.0
            now = time.time()
            frame = int((now - t0) // FRAME_S) + 1
            base = t0
            aligned = True
        f_start = base + frame * FRAME_S
        if aligned:
            t0_ms, interval, n, _ = bumps
            while applied < n and t0_ms + applied * interval <= round(
                    f_start * 1000):
                version[order[applied % n_prog]] = applied // n_prog + 1
                applied += 1
        frame_pkts = list(man["pat"])
        for i in range(n_prog):
            frame_pkts += man["pmt"][i][version[i]]
        if frame % 10 == 0:
            frame_pkts += man["sdt"]
        while len(frame_pkts) < per_frame:
            frame_pkts.append(es[es_i % len(es)])
            es_i += 1
        dgrams = [frame_pkts[i:i + PER_DGRAM]
                  for i in range(0, len(frame_pkts), PER_DGRAM)]
        for j, d in enumerate(dgrams):
            due = f_start + j * FRAME_S / len(dgrams)
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            late = max(0.0, time.time() - due) * 1000
            late_max = max(late_max, late)
            late_sum += late
            sock.sendto(b"".join(stamp(i) for i in d), dest)
            sent_dgrams += 1
            sent_pkts += len(d)
        frame += 1
    print(json.dumps({
        "start_epoch_s": start, "pps": per_frame * 10,
        "sent_pkts": sent_pkts, "sent_dgrams": sent_dgrams,
        "bumps_applied": applied, "late_max_ms": late_max,
        "late_mean_ms": late_sum / max(1, sent_dgrams)}))
    sock.close()


if __name__ == "__main__":
    main()
