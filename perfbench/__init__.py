"""kgpipe benchmark (see README.md)."""
