"""Media codecs for the multimodal pipeline (no external libraries).

``png`` implements a minimal, spec-correct PNG encoder/decoder on the
standard library alone (zlib + struct) and ``wav`` a RIFF/PCM16 WAV
codec (struct only), so the multimodal decode stages run on REAL image
and audio bytes with no imaging or audio library."""

from .png import decode_png, encode_png  # noqa: F401
from .wav import decode_wav, encode_wav  # noqa: F401
