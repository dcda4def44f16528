#!/usr/bin/env python3
"""Per-layer CPU shares from a JFR recording of the extraction engine.

Usage:
  python3 tools/jfr_layers.py <recording.jfr>

Reads the recording's jdk.ExecutionSample events through
`jfr print --json --stack-depth 1024 --events jdk.ExecutionSample` and prints,
for each layer, the share of executor-thread samples whose stack holds one of
the layer's frames. Layers nest (a cell-clean sample also counts towards
`transforms` and `extract_one`), so the shares do not add up to 100%.

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
    ("parquet_write", r"org\.apache\.spark\.sql\.execution\.datasources\.parquet\.ParquetOutputWriter",
     r"write"),
    ("writer_open", r"org\.apache\.spark\.sql\.execution\.datasources\.parquet\.ParquetOutputWriter",
     r"<init>"),
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


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("recording")
    a = ap.parse_args()
    proc = subprocess.Popen(
        ["jfr", "print", "--json", "--stack-depth", "1024", "--events", "jdk.ExecutionSample",
         a.recording], stdout=subprocess.PIPE, text=True)
    total = 0
    truncated = 0
    hits = {name: 0 for name, _, _ in LAYERS}
    keys_seen = {}
    for ev in events(proc.stdout):
        vals = ev.get("values") or {}
        name = ((vals.get("sampledThread") or {}).get("javaName")) or ""
        if not EXECUTOR_THREADS.match(name):
            continue
        stack = vals.get("stackTrace") or {}
        total += 1
        truncated += bool(stack.get("truncated"))
        keys = {frame_key(f) for f in stack.get("frames") or []}
        for layer, cre, mre in COMPILED:
            hit = False
            for k in keys:
                memo = keys_seen.get((layer, k))
                if memo is None:
                    memo = bool(cre.match(k[0]) and mre.match(k[1]))
                    keys_seen[(layer, k)] = memo
                if memo:
                    hit = True
                    break
            hits[layer] += hit
    if proc.wait() != 0:
        sys.exit(f"jfr print failed with exit code {proc.returncode}")
    print(f"executor-thread samples: {total} (truncated stacks: {truncated})")
    for layer, _, _ in LAYERS:
        share = hits[layer] / total if total else 0.0
        print(f"{layer:28s} {share * 100:6.1f}%  {hits[layer]:7d}")


if __name__ == "__main__":
    main()
