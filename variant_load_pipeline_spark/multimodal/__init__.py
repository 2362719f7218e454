"""Pure-stdlib media codecs.  Only the PNG codec (`png`) is left; no query
or chain tool calls it."""
