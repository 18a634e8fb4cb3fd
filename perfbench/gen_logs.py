"""Seeded generator of Buildkite job logs with exact ground truth.

Writes OSC-timestamped job logs (``ESC _bk;t=<ms> BEL <content>``) and
returns the counts the library must reproduce from them.  The truth is
computed by construction, not by re-parsing: each line is built as one
known kind, and its text is chosen so that the reference classification
rules give exactly that kind.

Line kinds and how they are built:

* header -- ``~~~``/``---``/``+++`` followed by a step name.  It names the
  group of every entry up to the next header of the same file.
* command -- ``ESC[90m$ESC[0m`` followed by a shell line, the form the
  agent writes commands in.
* progress -- git progress segments (``objects``/``deltas`` and ``%``),
  each ending in ``ESC[K``, joined by a bare ``\\r`` inside one ``\\n``
  line, every segment after the first with its own OSC timestamp.
* regular -- words from a fixed vocabulary that holds no ``[``, so ANSI
  stripping touches only the colour codes the generator inserts.
* untimed -- a regular line without the OSC prefix (year-1 sentinel time).
* invalid -- an OSC line whose timestamp is not an int64; the library
  quarantines it and it never changes the current group.

Every line ends in ``\\r\\n``, which the line reader turns into one line
without the ``\\r``.  All text is ASCII.

The traffic mix comes from the one real job log whose counts the
repository records, the reference's ``testdata/bash-example.log``
(``FIXTURES.md``): 212 lines and 25 KB, CRLF endings, all lines
timestamped, 13 group headers, 15 commands and 4 progress lines, and
progress as multi-OSC ``\\r`` lines.  Commands take the coloured ``$`` form
of the reference's test vectors.  The generator draws each line's kind with those shares and sizes the text so a
raw line averages the recorded file's 25 KB / 212 lines.  Untimed and
invalid lines do not occur in that log; a small fixed share of each is
added so that the quarantine and the untimed-entry paths run and are
checked.  The repository records no real figures for segments per progress
line, for colour on other lines or for the spread of line lengths, so
these are fixed choices and are not varied by the seed.

The seed draws the file count (against lines per file) and every line;
the total line count is fixed, so the work per pass does not drift with
the seed.  No file comes near the 4,000,000-line threshold above which
``group_strategy="auto"`` leaves the per-file window, so every seed takes
the same (window) strategy.
"""

from __future__ import annotations

import collections
import os
import random

OSC = "\x1b_bk;t="
BEL = "\x07"
#: timestamp stored for entries without an OSC timestamp (Go's zero time)
NO_TIMESTAMP_MS = -62135596800000
NO_GROUP = "<no group>"
#: group_strategy="auto" switches away from the window above this many
#: lines in one file; generated files stay far below it
AUTO_WINDOW_MAX_LINES = 4_000_000
#: the recorded real log (module docstring): lines, raw bytes, and lines
#: of each kind; every line timestamped
REAL_LINES = 212
REAL_BYTES = 25 * 1024
REAL_HEADERS = 13
REAL_COMMANDS = 15
REAL_PROGRESS = 4
#: shares with no real log behind them, only there to exercise the
#: untimed-entry and quarantine paths
UNTIMED_SHARE = 0.005
INVALID_SHARE = 0.001
#: segments per progress line (no real figure recorded)
PROGRESS_SEGMENTS = (2, 6)
#: mean words per text line; with the fixed vocabulary this puts the mean
#: raw line at the real log's REAL_BYTES / REAL_LINES (``mean_line_bytes``)
MEAN_WORDS = 15

_WORDS = (
    "build test deploy cache docker image layer pull push step agent job "
    "artifact upload download bundle install compile link module package "
    "spark parquet arrow query group filter tail seek worker queue retry "
    "ok done pass fail warn info debug trace node go rust python java "
    "main.go:42 src/app.py v1.2.3 sha256:9f2c http://localhost:8080 "
    "--verbose -j4 KEY=value 200 404 12ms 3.4s 1024 0x1f ./run.sh"
).split()
_STEPS = (
    "Preparing working directory|Running commands|Uploading artifacts|"
    "Running global pre-checkout hook|Fetching source|Installing deps|"
    "Building image|Running unit tests|Running lint|Publishing results|"
    ":docker: Build|:pipeline: Upload|:rspec: Specs|:go: Vet|Cleanup"
).split("|")
_PROGRESS = ("Counting objects", "Compressing objects", "Receiving objects",
             "Resolving deltas")
_COLOUR = "\x1b[90m"
_RESET = "\x1b[0m"


def draw_profile(seed: int, file_choices: tuple[int, ...]) -> dict:
    """The seed's file count, with the fixed traffic mix it is written in."""
    return {
        "files": random.Random(seed).choice(file_choices),
        "header_share": REAL_HEADERS / REAL_LINES,
        "command_share": REAL_COMMANDS / REAL_LINES,
        "progress_share": REAL_PROGRESS / REAL_LINES,
        "untimed_share": UNTIMED_SHARE,
        "invalid_share": INVALID_SHARE,
        "mean_words": MEAN_WORDS,
    }


def _text(rng: random.Random) -> str:
    """Words from the vocabulary, ``MEAN_WORDS`` on average."""
    n = int(rng.expovariate(1.0 / (MEAN_WORDS - 0.5))) + 1
    return " ".join(rng.choices(_WORDS, k=n))


def _progress(rng: random.Random, ts: int) -> str:
    label = rng.choice(_PROGRESS)
    total = rng.randint(10, 5000)
    steps = rng.randint(*PROGRESS_SEGMENTS)
    segs = []
    for k in range(1, steps + 1):
        done = total * k // steps
        seg = f"remote: {label}: {100 * done // total:3d}% ({done}/{total})\x1b[K"
        segs.append(seg if k == 1 else f"{OSC}{ts}{BEL}{seg}")
    return "\r".join(segs)


class _Truth:
    """Running totals plus per-group ``list_groups`` rows."""

    def __init__(self) -> None:
        self.lines = 0
        self.quarantined = 0
        self.entries = 0
        self.with_time = 0
        self.commands = 0
        self.sections = 0
        self.progress = 0
        self.groups: dict[str, list[int]] = {}

    def add(self, group: str, ts: int, cmd: bool, hdr: bool, prog: bool) -> None:
        self.entries += 1
        self.with_time += ts != NO_TIMESTAMP_MS
        self.commands += cmd
        self.sections += hdr
        self.progress += prog
        name = group or NO_GROUP
        g = self.groups.get(name)
        if g is None:
            self.groups[name] = [1, ts, ts, int(cmd), int(prog)]
        else:
            g[0] += 1
            g[1] = min(g[1], ts)
            g[2] = max(g[2], ts)
            g[3] += cmd
            g[4] += prog

    def as_dict(self) -> dict:
        groups = sorted(
            ({"name": n, "entry_count": c, "first_seen_ms": lo,
              "last_seen_ms": hi, "commands": cm, "progress": pr}
             for n, (c, lo, hi, cm, pr) in self.groups.items()),
            key=lambda g: (g["first_seen_ms"], g["name"]),
        )
        return {
            "lines": self.lines,
            "quarantined": self.quarantined,
            "summary": {
                "total_entries": self.entries,
                "entries_with_time": self.with_time,
                "commands": self.commands,
                "sections": self.sections,
                "progress": self.progress,
                "regular": self.entries - self.commands - self.sections
                - self.progress,
            },
            "groups": groups,
        }


def _write_file(path: str, n_lines: int, rng: random.Random, prof: dict,
                file_no: int, truth: _Truth, keep_tail: int) -> dict:
    """Write one job log.  Returns its line count, the line numbers of its
    quarantined lines, and its last ``keep_tail`` entries as ``(row_id,
    timestamp, content, group, has_timestamp, is_command, is_group,
    is_progress)``: the positional truth for ``tail`` and ``seek``."""
    cuts = []
    acc = 0.0
    for k in ("header_share", "command_share", "progress_share",
              "untimed_share", "invalid_share"):
        acc += prof[k]
        cuts.append(acc)
    c_hdr, c_cmd, c_prog, c_untimed, c_invalid = cuts
    ts = 1_700_000_000_000 + file_no * 3_600_000
    group = ""
    out = []
    quarantined = []
    tail_rows: collections.deque = collections.deque(maxlen=keep_tail)
    for line_no in range(n_lines):
        ts += rng.randint(0, 40)
        u = rng.random()
        cmd = hdr = prog = False
        stamp = ts
        if u < c_hdr:
            content = name = f"{rng.choice(('~~~', '---', '+++'))} {rng.choice(_STEPS)}"
            hdr = True
        elif u < c_cmd:
            content = f"{_COLOUR}${_RESET} {_text(rng)}"
            cmd = True
        elif u < c_prog:
            content = _progress(rng, ts)
            prog = True
        elif u < c_invalid:
            content = _text(rng)
            if u >= c_untimed:  # quarantined: bad or overflowing timestamp
                bad = rng.choice((f"{ts}x", "99999999999999999999", "-"))
                out.append(f"{OSC}{bad}{BEL}{content}\r\n")
                truth.lines += 1
                truth.quarantined += 1
                quarantined.append(line_no)
                continue
            stamp = NO_TIMESTAMP_MS
        else:
            content = _text(rng)
        raw = content if stamp == NO_TIMESTAMP_MS else f"{OSC}{stamp}{BEL}{content}"
        out.append(raw + "\r\n")
        if hdr:
            group = name
        truth.lines += 1
        truth.add(group, stamp, cmd, hdr, prog)
        tail_rows.append((line_no, stamp, content, group,
                          stamp != NO_TIMESTAMP_MS, cmd, hdr, prog))
    with open(path, "w", encoding="ascii", newline="") as f:
        f.writelines(out)
    return {"lines": n_lines, "quarantined": quarantined,
            "tail_rows": list(tail_rows)}


def generate_dir(out_dir: str, seed: int, total_lines: int,
                 file_choices: tuple[int, ...], keep_tail: int) -> dict:
    """Write the seed's number of job logs, ``total_lines`` lines in all.

    Returns the profile and the ground truth of the whole directory: raw
    and quarantined line counts, the library's ``processing_summary`` and
    ``list_groups(as_timestamp=False)`` rows over it, and per file the
    positional truth of ``_write_file``."""
    prof = draw_profile(seed, file_choices)
    rng = random.Random(seed * 7919 + 1)
    os.makedirs(out_dir, exist_ok=True)
    n = prof["files"]
    per = [total_lines // n + (i < total_lines % n) for i in range(n)]
    assert max(per) <= AUTO_WINDOW_MAX_LINES
    truth = _Truth()
    files = [
        _write_file(os.path.join(out_dir, f"job-{i:02d}.log"), n_lines, rng,
                    prof, i, truth, keep_tail)
        for i, n_lines in enumerate(per)
    ]
    size = sum(os.path.getsize(os.path.join(out_dir, f)) for f in os.listdir(out_dir))
    prof["mean_line_bytes"] = size / total_lines
    return {"profile": prof, "truth": dict(truth.as_dict(), files=files)}
