"""Lint-style gate: the manifest log's layout and commit protocol live in
ONE module, ``sources/manifest.py`` (pure-Python, no Spark session).

Every other module reaches the log through that module's functions, so
a second copy of the slot claim, the version-file naming or the log
directory name is a re-fork of the protocol — the state this gate
keeps the package from drifting back into.
"""

from __future__ import annotations

from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "ripple_server_spark"
OWNER = PKG / "sources" / "manifest.py"

# the log directory literal, the version-file name format, and the two
# atomic-claim primitives
PROTOCOL_TOKENS = ('"_log"', "'_log'", "020d}.json", "os.link", "O_EXCL")


def test_manifest_protocol_tokens_live_only_in_manifest_module():
    offenders = [
        f"{p.relative_to(PKG.parent)}:{i}: {tok}"
        for p in sorted(PKG.rglob("*.py"))
        if p != OWNER
        for i, line in enumerate(p.read_text().splitlines(), 1)
        for tok in PROTOCOL_TOKENS
        if tok in line
    ]
    assert not offenders, "manifest protocol re-forked:\n" + "\n".join(offenders)


def test_owner_module_still_holds_every_token():
    """Guards the gate itself: if the owner stopped spelling a token
    (renamed layout, new claim primitive), the gate above would pass
    vacuously — update PROTOCOL_TOKENS alongside the protocol."""
    text = OWNER.read_text()
    assert all(
        tok in text for tok in ('"_log"', "020d}.json", "os.link", "O_EXCL")
    )
