"""sparkkd benchmark: see run.py."""
