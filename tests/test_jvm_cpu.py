"""tools/jvm_cpu.py's thread grouping over canned /proc stat lines."""

from __future__ import annotations

import importlib.util
from pathlib import Path

_spec = importlib.util.spec_from_file_location(
    "jvm_cpu", Path(__file__).resolve().parent.parent / "tools" / "jvm_cpu.py"
)
jvm_cpu = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(jvm_cpu)


def stat(pid: int, comm: str, utime: int, stime: int, cutime: int = 0, cstime: int = 0) -> str:
    """A /proc stat line: pid (comm) state ppid ... utime stime cutime cstime ..."""
    fields = ["S", "1", "1", "1", "0", "-1", "4194560", "0", "0", "0", "0",
              str(utime), str(stime), str(cutime), str(cstime), "20", "0", "1"]
    return f"{pid} ({comm}) " + " ".join(fields)


def test_parse_stat_keeps_spaces_and_parens_in_the_name():
    assert jvm_cpu.parse_stat(stat(7, "C2 CompilerThre", 5, 3, 2, 1)) == ("C2 CompilerThre", 8, 3)
    assert jvm_cpu.parse_stat(stat(8, "a (b) c", 1, 1)) == ("a (b) c", 2, 0)


def test_read_tree_groups_jvm_threads_and_processes():
    java = (100, stat(100, "java", 90, 10, 4, 1), {
        101: stat(101, "C2 CompilerThre", 30, 0),
        102: stat(102, "C1 CompilerThre", 8, 2),
        103: stat(103, "Executor task l", 15, 5),
        104: stat(104, "Thread-3", 6, 1),
        105: stat(105, "Thread-12", 2, 0),
        106: stat(106, "GC Thread#0", 3, 0),
        107: stat(107, "G1 Conc#0", 1, 0),
        108: stat(108, "VM Thread", 4, 0),
        109: stat(109, "Thread-pool", 1, 0),
    })
    driver = (50, stat(50, "python3", 40, 5), {})
    daemon = (200, stat(200, "python3", 2, 1, 20, 3), {})
    shell = (60, stat(60, "bash", 1, 0), {})
    got = jvm_cpu.read_tree([java, driver, daemon, shell], driver_pid=50)
    assert got == {
        (100, None): ("java", 105),
        (100, 101): ("C2 compiler", 30),
        (100, 102): ("C1 compiler", 10),
        (100, 103): ("executor tasks", 20),
        (100, 104): ("Py4J gateway", 7),
        (100, 105): ("Py4J gateway", 2),
        (100, 106): ("GC", 3),
        (100, 107): ("GC", 1),
        (100, 108): ("other JVM", 4),
        (100, 109): ("other JVM", 1),
        (50, None): ("Python driver", 45),
        (200, None): ("Python workers", 26),
        (60, None): ("other", 1),
    }


def test_by_group_counts_new_and_exited_threads_and_the_unseen_rest():
    start = {
        (100, None): ("java", 100),
        (100, 101): ("C2 compiler", 30),
        (100, 102): ("executor tasks", 20),
        (50, None): ("Python driver", 40),
    }
    # 101 exited after its last sample (kept at its last-seen ticks);
    # 103 is a compiler thread started during the unit; the JVM's total
    # grew 5 ticks more than its sampled threads did
    end = {
        (100, None): ("java", 170),
        (100, 101): ("C2 compiler", 45),
        (100, 102): ("executor tasks", 32),
        (100, 103): ("C2 compiler", 38),
        (50, None): ("Python driver", 44),
        (200, None): ("Python workers", 9),
    }
    got = jvm_cpu.by_group(start, end)
    assert got == {
        "C2 compiler": 15 + 38,
        "C1 compiler": 0,
        "executor tasks": 12,
        "Py4J gateway": 0,
        "GC": 0,
        "other JVM": 70 - (15 + 12 + 38),
        "Python driver": 4,
        "Python workers": 9,
        "other": 0,
    }
