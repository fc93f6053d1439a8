"""ocr_spark front-door benchmark (see README.md)."""
