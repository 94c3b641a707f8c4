"""ocr_lib_spark — a PySpark-native main-content extraction engine.

A from-scratch reimplementation of the computational capabilities of
VladimirMarkovic86/ocr-lib (a Clojure template-matching OCR pipeline,
see /root/reference) recast as a main-content extraction pipeline over
tables of multi-turn conversation transcripts
(conv_id, turn_idx, role, text, tool, ts).

The mapping (SURVEY.md header table):

  ocr-lib stage                      this engine
  ---------------------------------  ------------------------------------
  base64 -> image decode             payload decode (tool wrappers, data:
                                     URIs) in Arrow-batched kernels
  binarization (pixel -> b/w)        token/markup-class signal per node
  black-dot scan                     candidate text-node extraction
  connected-component grouping       gap-tolerant block grouping
  projection segmentation            block segmentation over markup nodes
  Jaccard nearest-prototype match    feature-vector nearest-prototype
                                     boilerplate/content classifier
  reading-order sort                 stable (conv_id, turn_idx) ordering
  text assembly                      clean text + char spans per turn
  progress atoms                     per-partition lineage + metrics rows

Everything is DataFrame/Catalyst-first; the non-relational core
(segmentation + classification) lives in vectorized `mapInArrow`
batches — never row-at-a-time Python UDFs.
"""

from ocr_lib_spark.config import ExtractionConfig
from ocr_lib_spark.session import get_spark

__all__ = ["ExtractionConfig", "get_spark"]
__version__ = "0.1.0"
