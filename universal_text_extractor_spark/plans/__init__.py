from .pipeline import ExtractionRun, run_extraction

__all__ = ["ExtractionRun", "run_extraction"]
