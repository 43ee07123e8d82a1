"""sparklog benchmark package (see README.md); entry point: run.py."""
