"""Relational operators (SURVEY.md §2.2-§2.7)."""
