"""Seeded synthetic Jaeger/Sysmon detonation corpus.

One JSON file per trace, written UTF-8 with a BOM, in the shape of the
reference corpus (SURVEY.md §1.1 and Appendix A):

* EventID mix carried on the int64 ``ID`` tag, in corpus proportions
  (1, 5, 11, 22, 13, 8, 3, tag-less ``process:<PID>`` root spans, 2,
  4624, 12, 17/18);
* spans per file drawn from an exponential and capped at 450, then
  scaled so the corpus holds exactly ``n_spans`` spans;
* each span padded with an ignored filler tag to ``span_bytes`` bytes;
* a GUID-keyed process tree per trace, ``depth`` generations deep along
  one spine, so BFS from the roots needs ``depth`` rounds;
* non-create events carry the parent's ``sysmon.ppid`` (the pid-keyed
  second parent of SURVEY §1.3) or ``0`` (dropped by truthiness); the
  spine always carries ``0`` so the pid-keyed parents never shorten it;
* a pool of GUIDs reused across files (shared system processes), and
  ``DestinationHostname = "-"`` on some network events.

Everything is a pure function of the arguments: the same seed writes
byte-identical files.
"""

from __future__ import annotations

import json
import os
import random

EVENT_MIX = [
    (1, 5851), (5, 5779), (11, 2244), (22, 1150), (13, 673), (8, 300),
    (3, 269), (None, 262), (2, 48), (4624, 44), (12, 10), (17, 4), (18, 4),
]
SPAN_CAP = 450
IMAGES = [
    "C:\\Windows\\System32\\cmd.exe", "C:\\Windows\\System32\\svchost.exe",
    "C:\\Windows\\System32\\WindowsPowerShell\\v1.0\\powershell.exe",
    "C:\\Users\\u\\AppData\\Local\\Temp\\sample.exe", "/usr/bin/python3",
    "C:\\Windows\\System32\\rundll32.exe", "C:\\Windows\\explorer.exe",
]
HOSTS = ["evil.example.COM", "-", "update.example.net", "-", "cdn.example.org"]
SHARED_GUIDS = 40


def _guid(rng: random.Random) -> str:
    return "{%08X-%04X-%04X-%04X-%012X}" % (
        rng.getrandbits(32), rng.getrandbits(16), rng.getrandbits(16),
        rng.getrandbits(16), rng.getrandbits(48),
    )


def _tag(key: str, value) -> dict:
    if isinstance(value, bool):
        kind = "bool"
    elif isinstance(value, int):
        kind = "int64"
    else:
        kind = "string"
    return {"key": key, "type": kind, "value": value}


def spans_per_file(rng: random.Random, n_files: int, n_spans: int) -> list[int]:
    """Exponential span counts capped at ``SPAN_CAP`` that sum to exactly
    ``n_spans`` (each file keeps at least one span)."""
    mean = n_spans / n_files
    raw = [min(SPAN_CAP, max(1.0, rng.expovariate(1.0 / mean))) for _ in range(n_files)]
    scale = n_spans / sum(raw)
    counts = [max(1, min(SPAN_CAP, int(r * scale))) for r in raw]
    i = 0
    while sum(counts) != n_spans:
        step = 1 if sum(counts) < n_spans else -1
        j = i % n_files
        if 1 <= counts[j] + step <= SPAN_CAP:
            counts[j] += step
        i += 1
    return counts


class _Proc:
    __slots__ = ("guid", "pid", "image", "parent", "gen")

    def __init__(self, guid, pid, image, parent):
        self.guid, self.pid, self.image, self.parent = guid, pid, image, parent
        self.gen = 0 if parent is None else parent.gen + 1


def _trace(rng: random.Random, n: int, depth: int, shared: list[str],
           span_bytes: int, t0: int) -> dict:
    events = [e for e, _ in EVENT_MIX]
    weights = [w for _, w in EVENT_MIX]
    # the spine: depth+1 generations, each spawned by the previous one
    procs: list[_Proc] = []
    spine: set[int] = set()
    parent = None
    for _ in range(depth + 1):
        p = _Proc(_guid(rng), rng.randrange(100, 65000), rng.choice(IMAGES), parent)
        spine.add(id(p))
        procs.append(p)
        parent = p
    # side branches: extra processes hanging off random earlier ones no
    # deeper than the spine; a few carry a GUID shared with other files
    n_procs = max(len(procs), n // 3)
    while len(procs) < n_procs:
        guid = rng.choice(shared) if rng.random() < 0.05 else _guid(rng)
        parent = rng.choice([p for p in procs if p.gen < depth] or procs[:1])
        procs.append(_Proc(guid, rng.randrange(100, 65000), rng.choice(IMAGES), parent))
    # one create event per process first (spine order keeps the
    # depth), then the weighted mix over random processes
    kinds = [1] * min(n, len(procs))
    kinds += rng.choices(events, weights, k=n - len(kinds))
    spans = []
    for i, ev in enumerate(kinds):
        p = procs[i] if i < len(procs) and ev == 1 else rng.choice(procs)
        tags = []
        if ev is None:
            tags = [_tag("otel.scope.name", "sysmon"), _tag("span.kind", "internal")]
            op = f"process:{p.pid}"
        else:
            op = f"{os.path.basename(p.image)}@evt:{ev}"
            tags.append(_tag("ID", ev))
            tags.append(_tag("ProcessGuid", p.guid))
            tags.append(_tag("ProcessId", p.pid))
            tags.append(_tag("Image", p.image))
            if ev == 1:
                tags.append(_tag("CommandLine", f"\"{p.image}\" /c task{rng.randrange(50)}"))
                if p.parent is not None:
                    tags.append(_tag("ParentProcessGuid", p.parent.guid))
                    tags.append(_tag("ParentProcessId", p.parent.pid))
            else:
                dual = p.parent is not None and id(p) not in spine and rng.random() < 0.6
                tags.append(_tag("sysmon.ppid", p.parent.pid if dual else 0))
            if ev in (11, 2):
                tags.append(_tag("TargetFilename",
                                 f"C:\\Users\\u\\AppData\\Local\\Temp\\f{rng.randrange(4000)}.tmp"))
            elif ev == 13:
                tags.append(_tag("TargetObject",
                                 f"HKLM\\SOFTWARE\\Run\\k{rng.randrange(60)}\\v{rng.randrange(8)}"))
                tags.append(_tag("Details", f"DWORD (0x{rng.randrange(256):08x})"))
            elif ev == 12:
                tags.append(_tag("EventType", rng.choice(["CreateKey", "DeleteKey", "DeleteValue"])))
                tags.append(_tag("TargetObject", f"HKLM\\SOFTWARE\\k{rng.randrange(30)}"))
            elif ev == 8:
                tgt = rng.choice(procs)
                tags.append(_tag("SourceProcessGuid", p.guid))
                tags.append(_tag("TargetProcessGuid", tgt.guid))
                tags.append(_tag("TargetProcessId", tgt.pid))
            elif ev == 3:
                tags.append(_tag("DestinationIp", f"10.{rng.randrange(4)}.{rng.randrange(256)}.{rng.randrange(1, 255)}"))
                tags.append(_tag("DestinationHostname", rng.choice(HOSTS)))
                tags.append(_tag("DestinationPort", rng.choice([80, 443, 8080])))
                tags.append(_tag("Protocol", "tcp"))
            elif ev == 22:
                tags.append(_tag("QueryName", rng.choice(HOSTS)))
            elif ev in (17, 18):
                tags.append(_tag("PipeName", f"\\\\.\\pipe\\p{rng.randrange(6)}"))
        span = {
            "traceID": "", "spanID": "%016x" % rng.getrandbits(64),
            "operationName": op,
            "references": [{"refType": "CHILD_OF", "traceID": "", "spanID": "%016x" % rng.getrandbits(64)}],
            "startTime": t0 + i * 1000 + rng.randrange(1000),
            "duration": rng.randrange(1, 5000),
            "tags": tags,
            "logs": [], "processID": "p1", "warnings": None,
        }
        used = len(json.dumps(span))
        if used < span_bytes:
            tags.append(_tag("sysmon.raw", "x" * (span_bytes - used - 50)))
        spans.append(span)
    return {"traceID": "", "spans": spans,
            "processes": {"p1": {"serviceName": "sysmon", "tags": []}},
            "warnings": None}


def generate_corpus(out_dir: str, seed: int, n_files: int, n_spans: int,
                    depth: int, span_bytes: int, prefix: str = "t") -> list[str]:
    """Write the corpus under ``out_dir``; return the file paths in
    sorted order.  ``prefix`` names the files, so batches generated for
    appends sort after the base corpus."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    shared = [_guid(rng) for _ in range(SHARED_GUIDS)]
    counts = spans_per_file(rng, n_files, n_spans)
    paths = []
    for i, n in enumerate(counts):
        doc = _trace(rng, n, depth, shared, span_bytes, 1_700_000_000_000_000 + i)
        tid = "%032x" % rng.getrandbits(128)
        if rng.random() < 0.02:
            tid = ""  # FILE::<basename> fallback
        doc["traceID"] = tid
        for s in doc["spans"]:
            s["traceID"] = tid
            s["references"][0]["traceID"] = tid
        path = os.path.join(out_dir, f"{prefix}{i:05d}.json")
        with open(path, "w", encoding="utf-8-sig") as fh:
            json.dump(doc, fh)
        paths.append(path)
    return sorted(paths)


def load_corpus(paths: list[str]) -> tuple[list[dict], list[str]]:
    """Parse the written files back (BOM-aware), as the oracle reads them."""
    traces, names = [], []
    for p in sorted(paths):
        with open(p, encoding="utf-8-sig") as fh:
            traces.append(json.load(fh))
        names.append(os.path.basename(p))
    return traces, names
