"""pholcus_spark repository benchmark (see run.py)."""
