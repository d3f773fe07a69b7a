from .extract import extract_text_bytes, extract_text_udf, detect_lang_str, detect_lang_udf, fill_lang_udf
from .gen import generate_ledger, LedgerSpec
from .dedup import lww_dedup
from .engine import CdcEngine, EngineConfig
from .ivm import IncrementalAggregate

__all__ = [
    "extract_text_bytes",
    "extract_text_udf",
    "detect_lang_str",
    "detect_lang_udf",
    "fill_lang_udf",
    "generate_ledger",
    "LedgerSpec",
    "lww_dedup",
    "CdcEngine",
    "EngineConfig",
    "IncrementalAggregate",
]
