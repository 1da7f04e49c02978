"""sparkft benchmark harness; see run.py."""
