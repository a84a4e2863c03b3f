SELECT EventId, State, EventType
FROM StormEvents
WHERE lower(State) = lower('kansas') OR lower(EventType) = lower('DROUGHT')
ORDER BY EventId ASC NULLS FIRST
