"""Reading benchmark output and result files (standard library only)."""

import glob
import json
import os
import re
import statistics

RESULT_KEYS = ("correct", "attempted", "failed", "metrics")

# Build-tool decorations a captured stdout line may carry, e.g. sbt's
# "[info] " / "[success] " prefixes and ANSI colour codes.
_PREFIX = re.compile(r"^(?:\x1b\[[0-9;]*m|\[(?:info|warn|error|success|debug)\]\s*)+")


def parse_result(text):
    """Return the last line of `text` that is a JSON result object, or None.

    Lines may carry build-tool prefixes or trailing status lines after the
    result; both are skipped rather than breaking the parse."""
    for line in reversed(text.splitlines()):
        line = _PREFIX.sub("", line.strip()).strip()
        if not line.startswith("{"):
            continue
        try:
            obj = json.loads(line)
        except ValueError:
            continue
        if isinstance(obj, dict) and all(k in obj for k in RESULT_KEYS):
            return obj
    return None


def load_runs(paths):
    """Result records from files, directories of files, or glob patterns."""
    files = []
    for p in paths:
        if os.path.isdir(p):
            files += sorted(glob.glob(os.path.join(p, "*.json")))
        else:
            files += sorted(glob.glob(p)) or [p]
    runs = []
    for f in files:
        with open(f) as fh:
            text = fh.read()
        try:
            rec = json.loads(text)
        except ValueError:
            rec = {"result": parse_result(text)}
        if not isinstance(rec, dict):
            continue
        if "result" not in rec and all(k in rec for k in RESULT_KEYS):
            rec = {"result": rec}
        if rec.get("result"):
            rec["file"] = f
            runs.append(rec)
    return runs


def quartiles(values):
    """(q1, median, q3) as statistics.quantiles(values, n=4) gives them."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3
