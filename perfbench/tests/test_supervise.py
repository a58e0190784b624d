"""The supervisor stops and reaps what a run leaves behind, orphans too."""

import os
import subprocess
import sys
import textwrap

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)


def test_orphans_are_stopped_and_reaped():
    # a shell that backgrounds two sleeps and exits: the sleeps are
    # orphaned (one in a session of its own) and re-parent to the subreaper
    script = textwrap.dedent(f"""
        import os, subprocess, sys, time
        sys.path[:0] = [{BENCH!r}, {os.path.dirname(BENCH)!r}]
        import run
        run.prctl(run.PR_SET_CHILD_SUBREAPER, 1)
        subprocess.run(["sh", "-c", "sleep 60 & setsid sleep 60 & exit 0"], check=True)
        time.sleep(0.2)
        assert len(run.descendants(os.getpid())) == 2
        print(run.stop_descendants(), len(run.descendants(os.getpid())))
    """)
    out = subprocess.run([sys.executable, "-c", script], capture_output=True,
                         text=True, timeout=60, check=True)
    assert out.stdout.split() == ["2", "0"]


def test_nothing_left_is_nothing_stopped():
    script = textwrap.dedent(f"""
        import os, subprocess, sys
        sys.path[:0] = [{BENCH!r}, {os.path.dirname(BENCH)!r}]
        import run
        subprocess.run(["true"], check=True)
        print(run.stop_descendants())
    """)
    out = subprocess.run([sys.executable, "-c", script], capture_output=True,
                         text=True, timeout=60, check=True)
    assert out.stdout.split() == ["0"]
