#!/usr/bin/env python3
"""Meta-test: tools/dup_windows.py counts the lines of a repeated 6-line
window and gates on --max. Dev tool only.

Usage: python3 tools/test_dup_windows.py
"""
import subprocess
import sys
import tempfile
from pathlib import Path

BLOCK = "".join(f"val x{i} = {i}\n" for i in range(6))


def run(files, *args):
    r = subprocess.run([sys.executable, "tools/dup_windows.py", *args, *files],
                       capture_output=True, text=True)
    return r.returncode, r.stdout.strip()


def main():
    with tempfile.TemporaryDirectory() as tmp:
        a, b = Path(tmp, "a.scala"), Path(tmp, "b.scala")
        # comments and blank lines are not counted and do not break a window
        a.write_text("object A {\n" + BLOCK + "}\n")
        b.write_text("// copied\nobject B {\n\n" + BLOCK + "  // end\n}\n")
        assert run([a]) == (0, "0"), run([a])
        # b repeats a's windows [x0..x5] and [x1..x5, }]: its 6 block
        # lines and its closing brace are copies
        assert run([a, b]) == (1, "7"), run([a, b])
        assert run([a, b], "--max", "7") == (0, "7")
        # one changed line leaves no 6-line window in common
        b.write_text("object B {\n" + BLOCK.replace("= 5", "= 6") + "}\n")
        assert run([a, b]) == (0, "0"), run([a, b])
    print("ok")


if __name__ == "__main__":
    main()
