"""The repository benchmark; `run.py` is its command. See README.md."""
