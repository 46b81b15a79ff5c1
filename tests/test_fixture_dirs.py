"""On-disk query fixtures (``__spark_entry__._fixture_dir``) are removed
when the process that built them exits."""

from __future__ import annotations

import inspect
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# every builder that writes an on-disk fixture, by its dir tag
_TAGS = ("csv", "cascade", "skimp_memo", "json", "mpf", "inc", "tt")


def test_fixture_dirs_removed_at_exit(tmp_path):
    """A child process makes one fixture dir per builder tag (with a
    file in it, as a builder would) under its own temp root; once it
    exits, no ``mp_spark_<tag>_*`` dir is left there."""
    code = (
        "import os, sys\n"
        f"sys.path.insert(0, {HERE!r})\n"
        "import __spark_entry__ as E\n"
        f"for tag in {_TAGS!r}:\n"
        "    wd = E._fixture_dir(tag)\n"
        "    open(os.path.join(wd, 'part-0'), 'w').write('x')\n"
        "    print(wd)\n"
    )
    env = dict(os.environ, TMPDIR=str(tmp_path))
    r = subprocess.run([sys.executable, "-c", code], env=env,
                       capture_output=True, text=True, timeout=120)
    assert r.returncode == 0, r.stderr
    made = r.stdout.split()
    assert len(made) == len(_TAGS)
    for path, tag in zip(made, _TAGS):
        assert os.path.dirname(path) == str(tmp_path)
        assert os.path.basename(path).startswith(f"mp_spark_{tag}_")
    assert not list(tmp_path.glob("mp_spark_*"))


def test_every_fixture_dir_comes_from_the_helper():
    """No builder makes a temp dir of its own, so the exit-time removal
    covers every on-disk fixture."""
    sys.path.insert(0, HERE)
    import __spark_entry__ as E

    assert inspect.getsource(E).count("tempfile.mkdtemp(") == 1
    assert "tempfile.mkdtemp(" in inspect.getsource(E._fixture_dir)
