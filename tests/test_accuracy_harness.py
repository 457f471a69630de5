"""BENCH/accuracy.py rewrites only its own marked block of accuracy.md:
the archived text around it survives byte for byte (no trials run)."""

import importlib.util
from pathlib import Path

import pytest

_BENCH = Path(__file__).resolve().parents[1] / "BENCH"
_SPEC = importlib.util.spec_from_file_location("accuracy", _BENCH / "accuracy.py")
accuracy = importlib.util.module_from_spec(_SPEC)
_SPEC.loader.exec_module(accuracy)


def test_splice_keeps_text_outside_the_markers():
    head = "# title\n\narchived before\n"
    tail = "\narchived after\n## appended section\n| row |\n"
    text = head + accuracy.BEGIN + "old table\n" + accuracy.END + tail
    block = accuracy.table([("one-perm p=9 b=2", 8.53e-4, 0.0230, -0.0011)])
    out = accuracy.splice(text, block)
    assert out == head + accuracy.BEGIN + block + accuracy.END + tail
    assert "| one-perm p=9 b=2 | 8.53e-04 | 0.0230 | -0.0011 |\n" in out
    assert "old table" not in out


def test_splice_of_the_archive_keeps_its_archived_sections():
    text = (_BENCH / "accuracy.md").read_text()
    i = text.index(accuracy.BEGIN) + len(accuracy.BEGIN)
    j = text.index(accuracy.END)
    out = accuracy.splice(text, "new block\n")
    assert out == text[:i] + "new block\n" + text[j:]
    # the archived rows and the appended cardinality section are outside
    for kept in ("SuperMinHash m=512", "## IVF recall", "## Cardinality"):
        assert kept in text[j:] and kept in out
    # splicing the current block back in is the identity
    assert accuracy.splice(out, text[i:j]) == text


@pytest.mark.parametrize("text", [
    "no markers at all\n",
    accuracy.END + "x\n" + accuracy.BEGIN,
    accuracy.BEGIN + accuracy.END + accuracy.BEGIN + accuracy.END,
])
def test_splice_refuses_text_without_one_marked_block(text):
    with pytest.raises(ValueError):
        accuracy.splice(text, "block\n")
