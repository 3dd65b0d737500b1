"""Guard for the central slow-test list (tests/conftest.py, r14): a
renamed or deleted test must not leave a silent orphan in SLOW_TESTS —
an orphan would mean a >10 s test quietly rejoined the driver's
default run (the r13 truncation class)."""

from __future__ import annotations

from tests.conftest import REPO_ROOT, SLOW_TESTS, is_slow


def test_slow_list_names_exist():
    missing = []
    for entry in sorted(SLOW_TESTS):
        path, name = entry.split("::")
        f = REPO_ROOT / path
        if not f.is_file() or f"def {name}(" not in f.read_text():
            missing.append(entry)
    assert not missing, f"SLOW_TESTS entries with no matching test: {missing}"


def test_slow_marker_matches_file_and_name():
    entry = "tests/test_streaming.py::test_document_indexer_end_to_end"
    assert entry in SLOW_TESTS
    assert is_slow(entry) and is_slow(entry + "[param]")
    # the same name in another file stays in the default run
    assert not is_slow("tests/test_io.py::test_document_indexer_end_to_end")
