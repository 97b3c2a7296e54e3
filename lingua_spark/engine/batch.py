"""The detector under its batch-engine names.

``BatchDetector`` is ``core.detector.Detector``: one class, one scoring
path (``score_rows_batch``), documented in ``core.detector``.
"""

from ..core.detector import Detector as BatchDetector
from ..core.detector import score_rows_batch
from ..core.text import CHUNK_ROWS

__all__ = ["BatchDetector", "CHUNK_ROWS", "score_rows_batch"]
