import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))


def _supervise(child_code: str, deadline_s: float) -> str:
    """Run ``child_code`` under ``procs.supervise`` in a fresh interpreter
    (supervising makes the caller a subreaper for good) and return what
    the supervisor prints: the exit code."""
    code = ("import os, sys\n"
            "from perfbench.procs import supervise\n"
            f"print(supervise([sys.executable, '-c', {child_code!r}], "
            f"dict(os.environ), {deadline_s}))\n")
    out = subprocess.run([sys.executable, "-c", code], cwd=ROOT, timeout=60,
                         stdout=subprocess.PIPE, text=True)
    assert out.returncode == 0
    return out.stdout.strip()


def test_supervise_waits_for_orphaned_grandchildren(tmp_path):
    done = tmp_path / "done"
    # the child exits at once; the grandchild it leaves behind ends 1 s later
    grandchild = f"import time; time.sleep(1); open({str(done)!r}, 'w').write('x')"
    child = f"import subprocess, sys; subprocess.Popen([sys.executable, '-c', {grandchild!r}])"
    assert _supervise(child, 30) == "0"
    assert done.exists()


def test_supervise_stops_a_child_past_its_deadline():
    t0 = time.monotonic()
    assert _supervise("import time; time.sleep(60)", 1) == "124"
    assert time.monotonic() - t0 < 30
