"""Engine configuration.

Mirrors the reference's JSON-schema parameter block
(reference: ocrd_calamari/ocrd-tool.json:17-50):

    device:int, checkpoint_dir:uri, voter:enum, textequiv_level:enum,
    glyph_conf_cutoff:float

``device``/``checkpoint_dir`` have no analogue here (extractors are CPU
heuristic "models", registered in kernel/vote.py — the analogue of globbing
``*.ckpt.json``, reference recognize.py:510-511).
"""

from __future__ import annotations

from dataclasses import dataclass

VOTERS = ("confidence_voter_default_ctc", "sequence_voter")
LEVELS = ("block", "word", "glyph")  # ≈ textequiv_level {line, word, glyph}

# Block-level "tiny segment" filter: the analogue of the reference's skip of
# lines with height<=8 / width<=8 / all-background (recognize.py:166-179).
MIN_VISIBLE_CHARS = 8

# Fused-vote acceptance bar of a block.
ACCEPT_THRESHOLD = 0.5

# The voting extractors (kernel/vote.py EXTRACTORS) ≈ the 5-fold checkpoint
# ensemble (ocrd-tool.json:65).
ENSEMBLE = ("density", "link_density", "readability")

# Id of what the kernel computes from a page.  It changes exactly when the
# golden pin (tests/golden/pages_golden.parquet) is regenerated:
# scripts/make_golden.py writes it into the pin's metadata and
# tests/test_golden_pin.py checks the two agree.  Every manifest record
# stores it, and a resume over rows of another id raises.  0 is the kernel
# of the manifests written before records carried an id; 1 takes block
# conf, page conf and the fused vote as exact integer means of micro-units.
KERNEL_SEMANTICS = 1


@dataclass(frozen=True)
class ExtractConfig:
    """Validated, immutable engine parameters.

    Validation replaces the reference's CLI JSON-schema check
    (ocrd_calamari/cli.py:7-13).
    """

    voter: str = "confidence_voter_default_ctc"
    textequiv_level: str = "block"
    glyph_conf_cutoff: float = 0.001  # reference default, ocrd-tool.json:44-49

    def __post_init__(self):
        if self.voter not in VOTERS:
            raise ValueError(f"voter must be one of {VOTERS}, got {self.voter!r}")
        if self.textequiv_level not in LEVELS:
            raise ValueError(
                f"textequiv_level must be one of {LEVELS}, got {self.textequiv_level!r}"
            )
        # The reference applies the cutoff only to ranked glyph alternatives
        # (recognize.py:243-247) but *reads* the top-1 char through the same
        # filter in the whitespace ops (recognize.py:254); a cutoff >= the
        # primary probability floor would crash it.  We fail fast instead.
        if not (0.0 <= self.glyph_conf_cutoff < 0.5):
            raise ValueError("glyph_conf_cutoff must be in [0, 0.5)")
