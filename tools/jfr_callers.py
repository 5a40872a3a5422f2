#!/usr/bin/env python3
"""Count the CPU samples of a JFR recording that run under one frame, grouped
by their first graft caller.

    jfr print --json --stack-depth 400 --events jdk.ExecutionSample rec.jfr > rec.json
    python3 tools/jfr_callers.py rec.json [--frame CLASS.METHOD] [--top N]

`--frame` defaults to `org.apache.hadoop.conf.Configuration.getProps`, where
Hadoop parses its XML resources. A sample is "under" the frame when the frame
is anywhere on its stack; its caller is the first `graft.` frame below it
(towards the thread's root), printed as `class.method:line`. Record with a
deep stack (`-XX:FlightRecorderOptions=stackdepth=512`) and export with a deep
`--stack-depth`: the default export keeps 5 frames, which hides every graft
caller. The export is read one event at a time, so a large recording does not
have to fit in memory as parsed JSON.
"""
import argparse
import collections
import json

CHUNK = 1 << 20


def events(path):
    """Yield each event object of `jfr print --json` output, one at a time."""
    dec = json.JSONDecoder()
    with open(path, encoding="utf-8") as f:
        buf = ""
        while '"events"' not in buf:
            chunk = f.read(CHUNK)
            if not chunk:
                return
            buf += chunk
        buf = buf[buf.index('"events"'):]
        while "[" not in buf:
            buf += f.read(CHUNK)
        buf = buf[buf.index("[") + 1:]
        while True:
            buf = buf.lstrip(" \t\r\n,")
            if buf.startswith("]"):
                return
            try:
                ev, end = dec.raw_decode(buf)
            except json.JSONDecodeError:
                chunk = f.read(CHUNK)
                if not chunk:
                    if buf:
                        raise
                    return
                buf += chunk
                continue
            yield ev
            buf = buf[end:]


def frames(ev):
    """(class.method, line) per frame, the sampled frame first."""
    st = (ev.get("values") or {}).get("stackTrace") or {}
    out = []
    for fr in st.get("frames") or []:
        m = fr.get("method") or {}
        cls = ((m.get("type") or {}).get("name") or "?").replace("/", ".")
        out.append((f"{cls}.{m.get('name', '?')}", fr.get("lineNumber")))
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("export", help="output of jfr print --json")
    ap.add_argument("--frame", default="org.apache.hadoop.conf.Configuration.getProps")
    ap.add_argument("--top", type=int, default=20)
    a = ap.parse_args()

    total = under = 0
    callers = collections.Counter()
    for ev in events(a.export):
        if ev.get("type") != "jdk.ExecutionSample":
            continue
        total += 1
        fs = frames(ev)
        at = next((i for i, (name, _) in enumerate(fs) if name == a.frame), None)
        if at is None:
            continue
        under += 1
        caller = next((f"{name}:{line}" for name, line in fs[at + 1:]
                       if name.startswith("graft.")), "(no graft caller)")
        callers[caller] += 1

    share = 100.0 * under / total if total else 0.0
    print(f"samples: {total}")
    print(f"under {a.frame}: {under} ({share:.1f}%)")
    for caller, n in callers.most_common(a.top):
        print(f"{n:8d} {100.0 * n / total:5.1f}%  {caller}")


if __name__ == "__main__":
    main()
