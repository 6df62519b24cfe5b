"""Every tracked Python file compiles with warnings as errors.

An invalid escape sequence in a plain string literal (``'\\w'`` outside a
raw string) is a DeprecationWarning on Python 3.11, a SyntaxWarning from
3.12 and an error in a later release; ``python -W error`` already refuses
to parse such a file.
"""

import subprocess
import warnings
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def _tracked_sources():
    """The repository's ``*.py`` files: ``git ls-files``, or a walk that
    skips hidden directories outside a git checkout."""
    try:
        out = subprocess.run(['git', 'ls-files', '-z', '*.py'], cwd=ROOT,
                             capture_output=True, check=True).stdout
        return [ROOT / p for p in out.decode().split('\0') if p]
    except (OSError, subprocess.CalledProcessError):
        return [p for p in ROOT.rglob('*.py')
                if not any(part.startswith('.') for part in p.relative_to(ROOT).parts)]


def test_sources_compile_with_warnings_as_errors():
    paths = _tracked_sources()
    assert any(p.name == '__spark_entry__.py' for p in paths)
    bad = []
    for path in paths:
        with warnings.catch_warnings():
            warnings.simplefilter('error')
            try:
                compile(path.read_bytes(), str(path), 'exec', dont_inherit=True)
            except (SyntaxError, Warning) as e:
                bad.append(f'{path.relative_to(ROOT)}: {e}')
    assert not bad, bad
