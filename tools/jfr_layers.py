#!/usr/bin/env python3
"""Per-layer CPU and allocation shares from a JFR recording of the
extraction engine.

Usage:
  python3 tools/jfr_layers.py <recording.jfr>

Reads the recording's jdk.ExecutionSample events through
`jfr print --json --stack-depth 1024 --events jdk.ExecutionSample` and prints,
for each layer, the share of executor-thread samples whose stack holds one of
the layer's frames. Next to it goes the layer's share of executor-thread
allocation: the summed `weight` (bytes the sampler stands for) of the
jdk.ObjectAllocationSample events whose stack holds one of the layer's
frames, over the summed weight of all such events on executor threads (the
`profile` settings record them). Layers nest (a cell-clean sample also
counts towards `transforms` and `extract_one`), so neither column adds up to
100%.
It then counts the recording's jdk.ProcessStart events on executor threads
per command: Hadoop's local filesystem without its native library starts a
`chmod` process for every file and directory it creates. Last, it prints the
JIT compile time over the recording, from jdk.CompilerStatistics (the last
event's totalTimeSpent minus the first's): ExecutionSample never samples the
compiler threads, yet their CPU counts in a run's cpu_ms_per_doc. The figure
sums the elapsed time of every compilation over all compiler threads, so it
bounds their CPU from above (a compiler thread waiting for a core still
counts).

`parquet_write` and `writer_open` are the commit's bucket writers
(parquet-hadoop's ParquetWriter). `parquet_dictionary` is parquet's
dictionary encoders, including the fallback writer that drops a dictionary
for plain encoding, in any Parquet write. `probe` is the backend probe
(page-1 render and `quality_score`); `mojibake` is the whitespace pass's
mojibake repair. `hadoop_conf_deserialize` is not the
commit, which ships no Hadoop configuration: on html_commit it is
perfbench's untimed output check, whose listing of 64 bucket directories
runs as a Spark job with one task per directory (Spark lists more than 32
paths in parallel). Executor-thread processes likewise include the ones
perfbench's corpus build starts during set-up.

Recipe (from the repository root):
  1. build the benchmark once, so the compiler JVM is not the one recorded:
     python3 -c "import sys; from pathlib import Path; sys.path.insert(0, 'perfbench'); \
       import build; build.build(Path('.').resolve())"
  2. JAVA_TOOL_OPTIONS="-XX:FlightRecorderOptions=stackdepth=1024 \
       -XX:StartFlightRecording=filename=$PWD/run.jfr,settings=profile" \
       python3 perfbench/run.py --workload html_commit --seed 79 --seconds 20
  3. python3 tools/jfr_layers.py run.jfr
(The path must be absolute: run.py starts the JVM in a work directory it
deletes afterwards.)

Both stack depths matter: the recorder's default of 64 frames and `jfr
print`'s default of 5 cut Spark task stacks before the outer layers, which
then read near 0%.
"""
import argparse
import json
import re
import subprocess
import sys

# (layer, class regex, method regex), matched against every frame of a
# sample's stack; class names are dotted, Scala objects end in '$'
LAYERS = [
    ("extract_one", r"graft\.extract\.Pipeline\$", r"extractOne"),
    ("html_parse", r"graft\.extract\.HtmlExtract\$", r"parseDetailed"),
    ("transforms", r"graft\.extract\.DocTransforms\$", r"applyAll"),
    ("transforms.collapse_groups", r"graft\.extract\.DocTransforms\$", r"collapseDocTableGroups"),
    ("transforms.headers", r"graft\.extract\.DocTransforms\$", r"normalizeDocTableHeaders"),
    ("transforms.clean_cells", r"graft\.extract\.DocTransforms\$", r"cleanDocTableCells"),
    ("transforms.currencies", r"graft\.extract\.DocTransforms\$", r"normalizeDocTableCurrencies"),
    ("transforms.picture_dates", r"graft\.extract\.DocTransforms\$",
     r"removeDateOnlyTextInsidePictures"),
    ("transforms.picture_axis", r"graft\.extract\.DocTransforms\$", r"removeAxisTextInsidePictures"),
    ("transforms.kpi_captions", r"graft\.extract\.SpacingFix\$", r"addPictureKpiCaptionsFromItems"),
    ("transforms.whitespace", r"graft\.extract\.DocTransforms\$", r"normalizeDocTextWhitespace"),
    ("render", r"graft\.extract\.MarkdownRender\$", r"render|renderPlainText"),
    ("post", r"graft\.extract\.MarkdownRender\$", r"postProcess"),
    ("post.page_markers", r"graft\.textkit\.MarkdownPost\$", r"addVisiblePageMarkers"),
    ("post.noise", r"graft\.textkit\.MarkdownPost\$", r"reduceMarkdownNoise"),
    ("post.kpi_blocks", r"graft\.textkit\.MarkdownPost\$", r"normalizeKpiBlocks"),
    ("post.orphan_headings", r"graft\.textkit\.MarkdownPost\$", r"removeOrphanHeadings"),
    ("post.axis_lines", r"graft\.textkit\.MarkdownPost\$", r"removeAxisLikeLines"),
    ("probe", r"graft\.extract\.SpacingFix\$", r"probePage1Score"),
    ("quality_score", r"graft\.textkit\.Quality\$", r"scoreMarkdown"),
    ("mojibake", r"graft\.textkit\.TextNormalize\$", r"normalizeMojibakeText"),
    ("parquet_write", r"org\.apache\.parquet\.hadoop\.ParquetWriter", r"write"),
    ("writer_open", r"org\.apache\.parquet\.hadoop\.ParquetWriter", r"<init>"),
    ("parquet_dictionary",
     r"org\.apache\.parquet\.column\.values\.(dictionary\..*|fallback\.FallbackValuesWriter)", r".*"),
    ("hadoop_conf_deserialize", r"org\.apache\.hadoop\.conf\.Configuration", r"readFields"),
    ("scan", r"org\.apache\.spark\.sql\.execution\.datasources\.FileScanRDD\$\$anon\$1", r".*"),
]
COMPILED = [(name, re.compile(c + r"\Z"), re.compile(m + r"\Z")) for name, c, m in LAYERS]
EXECUTOR_THREADS = re.compile(r"Executor task launch worker.*")


def events(stream):
    """Yields the event objects of `jfr print --json` output one at a time,
    without holding the whole document (hundreds of MB) in memory."""
    dec = json.JSONDecoder()
    buf = ""
    pos = 0
    started = False
    eof = False
    while True:
        if not started:
            i = buf.find('"events"', pos)
            j = buf.find("[", i) if i >= 0 else -1
            if j >= 0:
                pos = j + 1
                started = True
                continue
        else:
            while pos < len(buf) and buf[pos] in " \t\r\n,":
                pos += 1
            if pos < len(buf):
                if buf[pos] == "]":
                    return
                try:
                    obj, end = dec.raw_decode(buf, pos)
                    yield obj
                    pos = end
                    continue
                except json.JSONDecodeError:
                    if eof:
                        raise
        if eof:
            return
        chunk = stream.read(1 << 22)
        eof = not chunk
        buf = buf[pos:] + chunk
        pos = 0


def frame_key(frame):
    method = frame.get("method") or {}
    cls = ((method.get("type") or {}).get("name") or "").replace("/", ".")
    return cls, method.get("name") or ""


def layer_weights(recording, event, thread_field, weight):
    """Sums `weight(values)` over the executor-thread events of one type,
    in total and per layer whose frame the event's stack holds; returns
    (events, truncated stacks, total, {layer: sum})."""
    proc = subprocess.Popen(
        ["jfr", "print", "--json", "--stack-depth", "1024", "--events", event, recording],
        stdout=subprocess.PIPE, text=True)
    count = 0
    truncated = 0
    total = 0
    sums = {name: 0 for name, _, _ in LAYERS}
    keys_seen = {}
    for ev in events(proc.stdout):
        vals = ev.get("values") or {}
        name = ((vals.get(thread_field) or {}).get("javaName")) or ""
        if not EXECUTOR_THREADS.match(name):
            continue
        stack = vals.get("stackTrace") or {}
        w = weight(vals)
        count += 1
        total += w
        truncated += bool(stack.get("truncated"))
        keys = {frame_key(f) for f in stack.get("frames") or []}
        for layer, cre, mre in COMPILED:
            for k in keys:
                memo = keys_seen.get((layer, k))
                if memo is None:
                    memo = bool(cre.match(k[0]) and mre.match(k[1]))
                    keys_seen[(layer, k)] = memo
                if memo:
                    sums[layer] += w
                    break
    if proc.wait() != 0:
        sys.exit(f"jfr print failed with exit code {proc.returncode}")
    return count, truncated, total, sums


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("recording")
    a = ap.parse_args()
    total, truncated, _, hits = layer_weights(a.recording, "jdk.ExecutionSample",
                                              "sampledThread", lambda _: 1)
    allocs, alloc_truncated, alloc_bytes, alloc = layer_weights(
        a.recording, "jdk.ObjectAllocationSample", "eventThread",
        lambda vals: byte_count(vals.get("weight")))
    print(f"executor-thread samples: {total} (truncated stacks: {truncated}); "
          f"allocation samples: {allocs} standing for {alloc_bytes / 1048576:.0f} MB "
          f"(truncated stacks: {alloc_truncated})")
    print(f"{'layer':28s} {'cpu':>7s} {'samples':>8s} {'alloc':>7s}")
    for layer, _, _ in LAYERS:
        share = hits[layer] / total if total else 0.0
        alloc_share = alloc[layer] / alloc_bytes if alloc_bytes else 0.0
        print(f"{layer:28s} {share * 100:6.1f}%  {hits[layer]:7d} {alloc_share * 100:6.1f}%")

    proc = subprocess.Popen(
        ["jfr", "print", "--json", "--stack-depth", "1", "--events", "jdk.ProcessStart",
         a.recording], stdout=subprocess.PIPE, text=True)
    started = {}
    for ev in events(proc.stdout):
        vals = ev.get("values") or {}
        name = ((vals.get("eventThread") or {}).get("javaName")) or ""
        if EXECUTOR_THREADS.match(name):
            command = (vals.get("command") or "").split(" ", 1)[0].rsplit("/", 1)[-1]
            started[command] = started.get(command, 0) + 1
    if proc.wait() != 0:
        sys.exit(f"jfr print failed with exit code {proc.returncode}")
    print(f"executor-thread process starts: {sum(started.values())}")
    for command, n in sorted(started.items(), key=lambda kv: -kv[1]):
        print(f"{command:28s} {n:7d}")

    proc = subprocess.Popen(
        ["jfr", "print", "--json", "--events", "jdk.CompilerStatistics", a.recording],
        stdout=subprocess.PIPE, text=True)
    spent = [millis((ev.get("values") or {}).get("totalTimeSpent")) for ev in events(proc.stdout)]
    if proc.wait() != 0:
        sys.exit(f"jfr print failed with exit code {proc.returncode}")
    spent = [t for t in spent if t is not None]
    if len(spent) >= 2:
        print(f"JIT compile time over the recording: {spent[-1] - spent[0]:.0f} ms, summed over "
              f"compiler threads ({len(spent)} jdk.CompilerStatistics events)")
    else:
        print("JIT compile time: fewer than two jdk.CompilerStatistics events")


def byte_count(value):
    """A jfr JSON data amount in bytes: a number, or a string such as
    "1.5 MB" or "812 bytes"."""
    if isinstance(value, (int, float)):
        return float(value)
    m = re.fullmatch(r"([\d.]+)\s*(bytes|byte|[kMGT]i?B)?", (value or "").strip())
    if not m:
        return 0.0
    scale = {None: 1, "bytes": 1, "byte": 1, "kB": 1e3, "MB": 1e6, "GB": 1e9, "TB": 1e12,
             "kiB": 1024, "KiB": 1024, "MiB": 1024 ** 2, "GiB": 1024 ** 3, "TiB": 1024 ** 4}
    return float(m.group(1)) * scale.get(m.group(2), 1)


def millis(value):
    """A jfr JSON duration in ms: a number of ms, or an ISO-8601 string such
    as "PT12.5S" or "PT1M2.5S"."""
    if isinstance(value, (int, float)):
        return float(value)
    m = re.fullmatch(r"PT(?:(\d+)H)?(?:(\d+)M)?(?:([\d.]+)S)?", value or "")
    if not m:
        return None
    h, mi, sec = (float(g) if g else 0.0 for g in m.groups())
    return ((h * 60 + mi) * 60 + sec) * 1000.0


if __name__ == "__main__":
    main()
