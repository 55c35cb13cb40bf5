"""The graphite whisper reference library, loaded as a TEST ORACLE only.

The differential-parity tests drive the reference ``whisper.py`` and the
store in lockstep.  When the reference is absent, ``refwhisper`` is None
and every test marked ``requires_reference`` is skipped with that reason;
the reference-free tests in the same modules run either way.
"""

import importlib.util
import os
import sys

import pytest

REFERENCE_DIR = "/root/reference"
HAVE_REFERENCE = os.path.isfile(os.path.join(REFERENCE_DIR, "whisper.py"))

if HAVE_REFERENCE:
    sys.path.insert(0, REFERENCE_DIR)
    import whisper as refwhisper  # noqa: E402
else:
    refwhisper = None

requires_reference = pytest.mark.skipif(
    not HAVE_REFERENCE,
    reason=f"needs the reference whisper library at {REFERENCE_DIR}/whisper.py",
)


def load_ref_script(name):
    """Load the reference's ``bin/<name>.py`` script as a module."""
    spec = importlib.util.spec_from_file_location(
        name.replace("-", "_"), os.path.join(REFERENCE_DIR, "bin", f"{name}.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod
