"""Catalyst expression builders: the extraction contract's rules as SQL
strings (cleaning) and the cross-engine hash columns (hashing)."""
