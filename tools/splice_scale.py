"""Merge a freshly generated SCALE.md with the hand-maintained sections.

tools/scale_stress.py regenerates the measured tables, but SCALE.md also
carries hand-written analysis sections (currently the "### st10
per-batch attribution" block, measured once and kept verbatim) that a plain regeneration would drop — rounds 6-7
re-spliced them by hand, which is exactly the kind of step that gets
forgotten.

Usage:
    python tools/scale_stress.py > /tmp/SCALE_new.md
    python tools/splice_scale.py /tmp/SCALE_new.md SCALE.md
    # writes the merged result over SCALE.md (the 2nd arg is both the
    # source of the preserved sections and the destination)
"""

from __future__ import annotations

import re
import sys

#: Headings (exact match) of sections preserved from the OLD file.
#: Each is re-inserted after the anchor heading it follows today.
PRESERVED = [
    (
        re.compile(r"^### st10 per-batch attribution"),
        re.compile(r"^## Streaming sinks"),
    ),
]


def _sections(text: str) -> list[tuple[str, str]]:
    """Split markdown into (heading_line, body) chunks at ## / ### level
    (the title line itself counts as the first chunk with heading '')."""
    out: list[tuple[str, str]] = []
    cur_head, cur_lines = "", []
    for line in text.splitlines(keepends=True):
        if line.startswith("## ") or line.startswith("### "):
            out.append((cur_head, "".join(cur_lines)))
            cur_head, cur_lines = line, []
        else:
            cur_lines.append(line)
    out.append((cur_head, "".join(cur_lines)))
    return out


def merge(new_text: str, old_text: str) -> str:
    old_secs = _sections(old_text)
    merged = _sections(new_text)
    for head_pat, anchor_pat in PRESERVED:
        keep = [
            (h, b) for h, b in old_secs if h and head_pat.match(h)
        ]
        if not keep:
            continue  # nothing to preserve (first-ever generation)
        # drop any same-heading section the new file may carry, then
        # insert the preserved one right after its anchor
        merged = [
            (h, b) for h, b in merged if not (h and head_pat.match(h))
        ]
        for i, (h, _b) in enumerate(merged):
            if h and anchor_pat.match(h):
                merged[i + 1 : i + 1] = keep
                break
        else:
            merged.extend(keep)
    return "".join(h + b for h, b in merged)


def main() -> None:
    new_path, dest_path = sys.argv[1], sys.argv[2]
    new_text = open(new_path).read()
    old_text = open(dest_path).read()
    out = merge(new_text, old_text)
    with open(dest_path, "w") as fh:
        fh.write(out)
    n_pres = sum(
        1
        for head_pat, _ in PRESERVED
        for line in out.splitlines()
        if head_pat.match(line)
    )
    print(
        f"wrote {dest_path}: {len(out.splitlines())} lines, "
        f"{n_pres} preserved section(s) spliced"
    )


if __name__ == "__main__":
    main()
