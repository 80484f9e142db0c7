"""Environment-knob inventory: every ``SPARK_GRAFT_*`` name the program
reads is listed in README.md's "Environment knobs" table, and nothing
else is. A new knob fails here until it is documented and the ceiling
below is raised on purpose."""
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCANNED = ["console_log_parser_spark", "jobs", "tools", "bench.py",
           "__spark_entry__.py"]
KNOB = re.compile(r"SPARK_GRAFT_[A-Z_]+")
MAX_KNOBS = 4


def _files():
    for entry in SCANNED:
        path = os.path.join(REPO, entry)
        if os.path.isfile(path):
            yield path
            continue
        for root, _dirs, names in os.walk(path):
            for name in names:
                if name.endswith((".py", ".sh")):
                    yield os.path.join(root, name)


def _read():
    found = set()
    for path in _files():
        with open(path, encoding="utf-8") as f:
            found.update(KNOB.findall(f.read()))
    return found


def _documented():
    with open(os.path.join(REPO, "README.md"), encoding="utf-8") as f:
        text = f.read()
    section = text.split("## Environment knobs", 1)[1].split("\n## ", 1)[0]
    return set(re.findall(r"^\| `(SPARK_GRAFT_[A-Z_]+)` \|", section,
                          re.MULTILINE))


def test_every_knob_read_is_documented_and_no_more():
    documented = _documented()
    assert _read() == documented
    assert len(documented) <= MAX_KNOBS
